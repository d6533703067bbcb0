"""Text-recovery kernels: ligature repair, charset cleaning, reading-order
paragraph reconstruction, boilerplate (header/footer) stripping, sentence
splitting.

Semantics match the reference implementation behavior-for-behavior
(rdantassilva/pdf2ocr, snapshot at /root/reference):

- ligature repair            -> pdf2ocr/converters/common.py:16-33
- paragraph reconstruction   -> pdf2ocr/converters/common.py:36-113
- header/footer strip        -> pdf2ocr/converters/common.py:116-150
- sentence split             -> pdf2ocr/converters/common.py:153-171
- paragraph pipeline         -> pdf2ocr/converters/common.py:174-220
  (the reference's ``Optional`` import bug at common.py:5/:177 is fixed
  here; intended semantics per main.py:174-175 are implemented)
- Portuguese charset clean   -> pdf2ocr/ocr.py:225-241

All functions are pure and deterministic; they are called once per
*document* from inside Arrow-batch stages (vectorized across documents,
sequential within one — the reconstruction FSM is order-sensitive).
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterable, List, Optional, Sequence, Union

# --- shared regexes ---------------------------------------------------------

#: a paragraph accumulator is "closed" when its last line ends a sentence
RE_SENTENCE_TERMINAL = re.compile(r"[.!?:;]\s*$")

#: standalone page-number line (1-4 digits, optionally padded by whitespace)
RE_PAGE_NUMBER_LINE = re.compile(r"^\s*\d{1,4}\s*$")

#: a header this engine family emits itself ("pdf2ocr - Page N"); stripped so
#: re-processing previously emitted output is idempotent
RE_SELF_HEADER_LINE = re.compile(r"^pdf2ocr\s*-\s*Page\s*\d+$", re.IGNORECASE)

#: numbered-section / chapter-word heading shapes (Portuguese-centric corpus)
RE_HEADING_SHAPE = re.compile(
    r"^(\d{1,2}[\s.)\-–—]+[A-ZÀ-Ú]"
    r"|Cap[ií]tulo|CAPÍTULO|Introdu|Conclus|Refer[êe]ncias)",
    re.IGNORECASE,
)

#: sentence boundary: terminal punctuation followed by whitespace
RE_SENTENCE_BOUNDARY = re.compile(r"(?<=[.!?…])\s+")

#: bullets that open a list item (all single chars -> first-char set test)
_BULLET_CHARS = frozenset("•-–—▪")

#: sentence-terminal chars; on an already-stripped line this single-char
#: test is exactly RE_SENTENCE_TERMINAL (hot path: 1-2 checks per FSM line)
_TERMINAL_CHARS = frozenset(".!?:;")

#: lowercase letters (incl. Portuguese accents) that follow a split ligature
_LIGATURE_TAIL = "a-záàâãéèêíïóôõúüç"

_LIGATURE_CODEPOINTS = {
    "ﬀ": "ff",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "ﬃ": "ffi",
    "ﬄ": "ffl",
}

_RE_SPLIT_FI = re.compile(rf"fi\s+(?=[{_LIGATURE_TAIL}])")
_RE_SPLIT_FL = re.compile(rf"fl\s+(?=[{_LIGATURE_TAIL}])")
_RE_SPLIT_FF = re.compile(rf"ff\s+(?=[{_LIGATURE_TAIL}])")

#: the 29 ``str.isspace()`` characters (Python's Unicode ``\s``) spelled
#: out, so Spark's Java regex and DuckDB's RE2 (whose ``\s`` differ) agree
UNICODE_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003\u2004"
    "\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)

#: Portuguese charset allowlist: the rest is stripped when lang='por' (and by pt_clean)
PT_ALLOWED_CLASS = (
    "a-zA-Z0-9"
    "áéíóúàãõâêôç"
    "ÁÉÍÓÚÀÃÕÂÊÔÇ"
    + UNICODE_WHITESPACE
    + "\\.,;:?!()\\[\\]{}\\-\"'"
)
_RE_PT_DISALLOWED = re.compile(f"[^{PT_ALLOWED_CLASS}]")


def repair_ligatures(text: str) -> str:
    """Undo OCR ligature damage.

    Unicode ligature codepoints (U+FB00..U+FB04) become their ASCII
    expansions, and OCR-split ligatures ("efi cácia", "refl exão") are
    rejoined when the fragment is followed by a lowercase letter.
    Ref parity: converters/common.py:16-33.
    """
    for cp, expansion in _LIGATURE_CODEPOINTS.items():
        text = text.replace(cp, expansion)
    text = _RE_SPLIT_FI.sub("fi", text)
    text = _RE_SPLIT_FL.sub("fl", text)
    return _RE_SPLIT_FF.sub("ff", text)


def clean_portuguese_charset(text: str) -> str:
    """Drop characters outside the Portuguese letters + digits + basic
    punctuation + whitespace allowlist. Ref parity: ocr.py:225-241 (applied
    only when the OCR language is 'por', ocr.py:261-263 — the caller gates).
    """
    return _RE_PT_DISALLOWED.sub("", text)


#: first chars that can possibly start a RE_HEADING_SHAPE match
#: (digit | Cap/CAPÍTULO | Introdu | Conclus | Refer, case-insensitive)
_HEADING_FIRST = set("0123456789CcIiRr")


def _looks_like_heading(line: str) -> bool:
    if line.isupper() and len(line) > 3:
        return True
    # cheap first-char gate before the regex (hot path: every FSM line)
    return line[0] in _HEADING_FIRST and bool(RE_HEADING_SHAPE.match(line))


def _looks_like_list_item(line: str) -> bool:
    if not line:
        return False
    c0 = line[0]
    if c0 in _BULLET_CHARS:
        return True
    return len(line) > 2 and c0.isdigit() and line[1] in ".)"


def rebuild_paragraphs_meta(text: str) -> tuple:
    """FSM core: merge per-visual-line OCR output into logical paragraphs.

    Rules (ref parity: converters/common.py:36-113):
      * a blank line flushes the open paragraph only if its last line ends
        with sentence-terminal punctuation; otherwise it is OCR noise
      * page-number-only lines and self-emitted "pdf2ocr - Page N" headers
        are dropped
      * heading-shaped lines flush and stand alone as their own paragraph
      * bullet / numbered list items flush and open a fresh paragraph
      * sentence-terminal punctuation followed by an uppercase-initial line
        is a paragraph boundary
      * everything else concatenates onto the open paragraph with spaces

    Returns ``(paragraphs, kinds, last_from_open)`` with UNREPAIRED
    paragraphs; ``kinds[i]`` records how paragraph i was opened ('h'eading
    standalone / 'l'ist item / 'r'egular) and ``last_from_open`` whether
    the final paragraph was closed by the artificial end-of-input flush —
    exactly the metadata ``merge_page_paragraphs`` needs to reconstruct
    the whole-document FSM from per-page runs.
    """
    # Flush and the helper predicates are inlined and every hot name is a
    # local: this loop runs once per visual line of every page on the
    # flagship extraction path and was ~1/3 of the whole kernel. ``tail``
    # mirrors open_para[-1][-1] (maintained on every append) so the two
    # sentence-terminal tests index nothing.
    done: List[str] = []
    kinds: List[str] = []
    open_para: List[str] = []
    open_kind = "r"
    tail = ""
    dapp = done.append
    kapp = kinds.append
    oapp = open_para.append
    terminal = _TERMINAL_CHARS
    bullets = _BULLET_CHARS
    hfirst = _HEADING_FIRST
    h_match = RE_HEADING_SHAPE.match
    pn_match = RE_PAGE_NUMBER_LINE.match
    sh_match = RE_SELF_HEADER_LINE.match

    for raw in text.splitlines():
        line = raw.strip()

        if not line:
            # blank line: only a real paragraph break if the open paragraph
            # already reads as a finished sentence (entries are stripped and
            # non-empty, so the last char IS the RE_SENTENCE_TERMINAL test)
            if open_para and tail in terminal:
                dapp(" ".join(open_para))
                kapp(open_kind)
                open_para.clear()
            continue

        # first-char gates: a stripped line matches the page-number regex
        # only if it starts with a digit, the self-header only with p/P
        c0 = line[0]
        if (c0.isdigit() and pn_match(line)) or (
            c0 in "pP" and sh_match(line)
        ):
            continue

        if (len(line) > 3 and line.isupper()) or (
            c0 in hfirst and h_match(line)
        ):
            if open_para:
                dapp(" ".join(open_para))
                kapp(open_kind)
                open_para.clear()
            dapp(line)
            kapp("h")
            continue

        if c0 in bullets or (len(line) > 2 and c0.isdigit() and line[1] in ".)"):
            if open_para:
                dapp(" ".join(open_para))
                kapp(open_kind)
                open_para.clear()
            open_kind = "l"
            oapp(line)
            tail = line[-1]
            continue

        if open_para and tail in terminal and c0.isupper():
            dapp(" ".join(open_para))
            kapp(open_kind)
            open_para.clear()
        if not open_para:
            open_kind = "r"
        oapp(line)
        tail = line[-1]

    last_from_open = bool(open_para)
    if open_para:
        dapp(" ".join(open_para))
        kapp(open_kind)
    return done, kinds, last_from_open


def merge_page_paragraphs(metas: Sequence[tuple]) -> List[str]:
    """Reconstruct the whole-document FSM result from per-page
    ``rebuild_paragraphs_meta`` outputs, WITHOUT a second FSM pass.

    The FSM's cross-line state is only the open paragraph (decisions read
    its last line), and pages are joined with a blank line, so the
    whole-document run differs from the concatenated per-page runs in
    exactly one way: a page's final paragraph that was closed by the
    artificial end-of-page flush (``last_from_open``) and does NOT end in
    sentence-terminal punctuation continues into the next page's first
    paragraph — unless that paragraph opened as a heading or list item
    (both flush the carried paragraph in the whole-doc run too). Empty
    pages carry the open state through. Equivalence is property-tested
    against the direct whole-document FSM.
    """
    merged: List[str] = []
    open_flag = False
    for paras, kinds, last_open in metas:
        if not paras:
            continue
        if (
            merged
            and open_flag
            and merged[-1][-1] not in _TERMINAL_CHARS
            and kinds[0] == "r"
        ):
            merged[-1] = merged[-1] + " " + paras[0]
            merged.extend(paras[1:])
        else:
            merged.extend(paras)
        open_flag = last_open
    return merged


def rebuild_paragraphs(text: str) -> str:
    """Whole-text paragraph rebuild: FSM core + "\\n\\n" join + ligature
    repair over the joined string (repair can bridge a split ligature
    across a paragraph boundary, merging the two blocks — long-standing
    semantics, preserved)."""
    raw_lines = text.splitlines()
    if not raw_lines:
        return text
    done, _, _ = rebuild_paragraphs_meta(text)
    return repair_ligatures("\n\n".join(done))


def strip_boilerplate_lines(pages: Sequence[str]) -> List[str]:
    """Remove running headers/footers that repeat across most pages.

    A line is boilerplate when its stripped form occurs within the first two
    or last two lines of at least 60% of the document's pages (each page
    contributes each candidate at most once). Documents shorter than three
    pages are returned untouched. Ref parity: converters/common.py:116-150.
    """
    n_pages = len(pages)
    if n_pages < 3:
        return list(pages)

    split_pages = [page.split("\n") for page in pages]
    page_hits: Counter = Counter()
    for lines in split_pages:
        edge = lines[:2] + lines[-2:]
        page_hits.update({ln.strip() for ln in edge if ln.strip()})

    cutoff = n_pages * 0.6
    boilerplate = {ln for ln, hits in page_hits.items() if hits >= cutoff}
    if not boilerplate:
        return list(pages)

    return [
        "\n".join(ln for ln in lines if ln.strip() not in boilerplate)
        for lines in split_pages
    ]


def split_paragraph_by_sentences(text: str, max_sentences: int) -> List[str]:
    """Chunk an over-long paragraph at sentence boundaries so each chunk has
    at most ``max_sentences`` sentences. Ref parity: common.py:153-171.
    """
    sentences = RE_SENTENCE_BOUNDARY.split(text)
    if len(sentences) <= max_sentences:
        return [text]
    return [
        chunk
        for i in range(0, len(sentences), max_sentences)
        if (chunk := " ".join(sentences[i : i + max_sentences])).strip()
    ]


def reassemble_paragraphs(
    text: Union[str, Iterable[str]],
    max_sentences: Optional[int] = None,
) -> List[str]:
    """Full per-document paragraph pipeline: join pages, normalize line
    endings, rebuild paragraphs, collapse intra-paragraph whitespace, and
    optionally split over-long paragraphs. Ref parity: common.py:174-220
    (with the reference's ``Optional`` NameError fixed — see module doc).
    """
    if not isinstance(text, str):
        text = "\n\n".join(text)

    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = rebuild_paragraphs(text)
    return flatten_blocks(text, max_sentences)


def flatten_blocks(text: str, max_sentences: Optional[int] = None) -> List[str]:
    """Post-FSM assembly: split the "\\n\\n"-joined rebuilt text into flat
    single-line paragraphs, optionally sentence-chunked."""
    out: List[str] = []
    for block in text.split("\n\n"):
        # rebuild_paragraphs emits newline-free paragraphs (lines were
        # splitlines'd and re-joined with spaces), so the per-line
        # flattening below only runs on the defensive non-FSM path
        if "\n" not in block:
            flat = block.strip()
        else:
            flat = " ".join(
                piece.strip() for piece in block.split("\n") if piece.strip()
            )
        if not flat:
            continue
        if max_sentences and max_sentences > 0:
            out.extend(split_paragraph_by_sentences(flat, max_sentences))
        else:
            out.append(flat)
    return out
