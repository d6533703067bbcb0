"""Per-document extraction + span emission.

This is the whole per-document dataflow of the reference CLI
(render → OCR → clean → boilerplate strip → paragraph rebuild → format
sinks; /root/reference/pdf2ocr/converters/pdf.py:639-746) re-expressed as
one pure function: ``document -> output span rows``. Instead of writing
PDF/DOCX/HTML/EPUB files, each format emits typed rows into the
``spans_out`` relation:

    (doc_id, kind, text, media_ref, offset)

Kinds:
    text        reflowed plain-text lines (greedy word-wrap, the analogue of
                the reference's reportlab text PDF sink, pdf.py:33-137)
    docx_para   one row per whole-document paragraph (docx.py:13-61)
    html        one row per ``<p>…</p>`` element, per page (html.py:10-135)
    markdown    one row per markdown block (headings -> '#', lists kept) —
                engine extension; the reference has no markdown sink
    layout_text layout-preserving mode (the reference's --preserve-layout
                path, pdf.py:140-368): one row per page with the RAW page
                text verbatim — no charset clean, no boilerplate strip, no
                paragraph reflow (the reference's layout mode feeds pages
                straight to 'tesseract ... pdf' with no text post-
                processing; config.py:114-136 forces it exclusive)
    page_header one row per non-empty page: 'pdf2ocr - Page N' (1-based,
                empty pages skipped — pdf.py:82-93, html.py:113-121)
    media_ref   interleaved media spans passed through in original order
                (engine extension; the reference ignores non-text content)

``offset`` numbers rows 0.. within each (doc_id, kind), in emission order.

Everything here is pure Python over small per-document data; vectorization
happens ACROSS documents in the Arrow batch stage that calls this.
"""

from __future__ import annotations

import re
from typing import List, Optional, Sequence, Tuple

from pdf2ocr_spark.kernel.textproc import (
    _looks_like_heading,
    clean_portuguese_charset,
    flatten_blocks,
    merge_page_paragraphs,
    rebuild_paragraphs_meta,
    repair_ligatures,
    strip_boilerplate_lines,
)

ALL_FORMATS = ("text", "docx_para", "html", "markdown")

#: greedy word-wrap budget for the reflowed ``text`` kind. The reference
#: wraps by Helvetica 10pt string width against an A4 text column
#: (pdf.py:96-118, width - 4cm ≈ 482pt ≈ 95 average glyphs); this engine
#: fixes the budget in characters so output is font-independent.
TEXT_WRAP_COLUMNS = 95

PAGE_HEADER_TEMPLATE = "pdf2ocr - Page {n}"

#: any whitespace that is not a single plain space (incl. runs of spaces)
_RE_ODD_WS = re.compile(r"[^\S ]|  ")

SpanRow = Tuple[str, str, Optional[str], Optional[str], int]  # doc_id, kind, text, media_ref, offset


def wrap_paragraph(text: str, columns: int = TEXT_WRAP_COLUMNS) -> List[str]:
    """Greedy word wrap: words accumulate onto a line until appending the
    next word would exceed ``columns``; an overlong single word occupies its
    own line untruncated.
    """
    # fast path: an already-normalized paragraph (single plain spaces only,
    # no edge whitespace — what the FSM emits) that fits the budget IS its
    # own single line; _RE_ODD_WS rejects any other whitespace or runs
    if (
        len(text) <= columns
        and text
        and text[0] != " "
        and text[-1] != " "
        and not _RE_ODD_WS.search(text)
    ):
        return [text]
    lines: List[str] = []
    line = ""
    for word in text.split():
        candidate = f"{line} {word}" if line else word
        if line and len(candidate) > columns:
            lines.append(line)
            line = word
        else:
            line = candidate
    if line:
        lines.append(line)
    return lines


def null_offset(doc_id: str) -> ValueError:
    """The error of a document with a null span ``offset``: it has no
    reading order, so no extraction path guesses one."""
    return ValueError(f"document {doc_id!r} has a span with a null offset")


def page_texts_in_order(doc_id: str, spans: Sequence[dict]) -> Tuple[List[str], List[str]]:
    """Split document ``doc_id``'s interleaved spans into ordered page texts
    and ordered media refs (both by ``offset``); a null ``offset`` raises
    ``null_offset(doc_id)``."""
    if any(s["offset"] is None for s in spans):
        raise null_offset(doc_id)
    ordered = sorted(spans, key=lambda s: s["offset"])
    pages = [s.get("text") or "" for s in ordered if s.get("kind") == "page"]
    media = [s["media_ref"] for s in ordered
             if s.get("kind") == "media" and s.get("media_ref")]
    return pages, media


def extract_document(
    doc_id: str,
    spans: Sequence[dict],
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> List[SpanRow]:
    """Run the full extraction pipeline for one document and return its
    output span rows. Deterministic; independent of partitioning.
    """
    pages, media = page_texts_in_order(doc_id, spans)
    return extract_from_pages(doc_id, pages, media, formats, lang, max_sentences)


def extract_from_pages(
    doc_id: str,
    pages: List[str],
    media: List[str],
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> List[SpanRow]:
    """Core per-document dataflow over already-ordered pages + media refs
    (the columnar fast path feeds this directly without building span
    dicts)."""
    raw_pages = list(pages)  # layout mode sees pages verbatim

    # OCR-language post-clean (ocr.py:261-263: applied per page, Portuguese only)
    if lang.lower() == "por":
        pages = [clean_portuguese_charset(p) for p in pages]

    # whole-document header/footer strip (needs all pages: common.py:116-150)
    pages = strip_boilerplate_lines(pages)

    # Per-kind offsets are plain integer locals and rows append directly:
    # the closure-based emit() helper this replaces was ~12% of the whole
    # kernel (73.8k calls / 2k docs) on the flagship path. Emission order
    # (and therefore the row list) is unchanged.
    rows: List[SpanRow] = []
    append = rows.append
    want = set(formats)
    want_text = "text" in want
    want_html = "html" in want

    # ONE FSM pass per page, shared by the per-page formats (text/html)
    # and the whole-document formats (docx/markdown): the whole-doc result
    # is reconstructed from the per-page runs with the boundary-merge rule
    # (textproc.merge_page_paragraphs) instead of a second FSM pass over
    # every line — property-tested equal to the direct whole-doc FSM.
    metas = []
    if want & {"text", "html", "docx_para", "markdown"}:
        metas = [
            rebuild_paragraphs_meta(p.replace("\r\n", "\n").replace("\r", "\n"))
            for p in pages
        ]

    # --- per-page formats (text + html share the 1-based non-empty-page
    # numbering and the page_header emission; pdf.py:82-93 / html.py:113-121)
    if want_text or want_html:
        page_no = 0
        n_text = 0
        n_html = 0
        for paras, _kinds, _lo in metas:
            paragraphs = flatten_blocks(
                repair_ligatures("\n\n".join(paras)), max_sentences
            ) if paras else []
            if not paragraphs:
                continue
            page_no += 1
            append(
                (doc_id, "page_header",
                 PAGE_HEADER_TEMPLATE.format(n=page_no), None, page_no - 1)
            )
            for para in paragraphs:
                if want_html:
                    append((doc_id, "html", f"<p>{para}</p>", None, n_html))
                    n_html += 1
                if want_text:
                    for line in wrap_paragraph(para):
                        append((doc_id, "text", line, None, n_text))
                        n_text += 1

    # --- whole-document formats
    if want & {"docx_para", "markdown"}:
        merged = merge_page_paragraphs(metas)
        doc_paragraphs = flatten_blocks(
            repair_ligatures("\n\n".join(merged)), max_sentences
        )
        if "docx_para" in want:
            n = 0
            for para in doc_paragraphs:
                stripped = para.strip()
                if stripped:
                    append((doc_id, "docx_para", stripped, None, n))
                    n += 1
        if "markdown" in want:
            # list items and plain paragraphs both render verbatim: only
            # the heading check decides anything
            heading = _looks_like_heading
            n = 0
            for para in doc_paragraphs:
                append(
                    (doc_id, "markdown",
                     f"# {para}" if heading(para) else para, None, n)
                )
                n += 1

    # --- layout-preserving mode: raw pages, one span each, no cleanup
    if "layout_text" in want:
        n = 0
        for page_text in raw_pages:
            if page_text.strip():
                append((doc_id, "layout_text", page_text, None, n))
                n += 1

    # --- media passthrough, original relative order
    n = 0
    for ref in media:
        append((doc_id, "media_ref", None, ref, n))
        n += 1

    return rows

