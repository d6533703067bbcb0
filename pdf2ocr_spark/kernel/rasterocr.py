"""Deterministic rasterize -> preprocess -> decode OCR model.

The reference OCRs scanned pages with the Tesseract binary
(/root/reference/pdf2ocr/ocr.py:244-265) — a non-deterministic native
dependency that is out of scope for a reproducible engine (SURVEY.md §7).
This module implements the engine's deterministic equivalent of the
render+recognize round trip:

1. ``render_page``: rasterize text onto a synthetic "scan" with natural
   statistics — ink pixels ~U[0,50], paper ~U[200,255], seeded from the
   page text — using a glyph font derived from md5(char): each glyph is a
   5x7 bit pattern drawn as 3x3-pixel blocks (so glyph structure survives
   the 3x3 median filter in the preprocess chain).
2. the full :mod:`imageproc` preprocess chain runs on the bitmap (this is
   the real vectorized kernel work, same as the reference's pipeline);
3. ``decode_page``: per-cell adaptive threshold (what Tesseract's
   binarizer does; a global threshold cannot survive histogram
   equalization, which is rank-preserving but value-collapsing) +
   nearest-template match over the glyph codebook.

The trip is deterministic end-to-end: identical text -> identical noise
-> identical preprocessing -> identical decode, independent of
partitioning. Residual decode errors (sharpen/unsharp overshoot flipping
a bit near an edge) are DETERMINISTIC OCR noise — precisely the artifact
class the reference's downstream cleanup stages exist to repair.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import List

import numpy as np

from pdf2ocr_spark.kernel.imageproc import preprocess_page

GLYPH_COLS = 5
GLYPH_ROWS = 7
BLOCK = 3  # pixels per glyph bit at DEFAULT_DPI (median-filter safe)
PAGE_COLS = 64  # chars per rendered line

#: rendering resolution (ref ocr.py:40 builds the zoom matrix dpi/72 and
#: main.py defaults --dpi 400); the raster geometry scales linearly with
#: dpi, exactly like the reference's PyMuPDF pixmap.
DEFAULT_DPI = 400


def block_for_dpi(dpi: int) -> int:
    """Pixels per glyph bit at a given dpi (>=1). DEFAULT_DPI -> BLOCK; the
    bitmap's linear dimensions scale ~dpi/DEFAULT_DPI, the reference's zoom
    semantics. Below ~DEFAULT_DPI/2 the 3x3 median filter in the §2.3 chain
    out-sizes the glyph blocks and decode accuracy degrades — the realistic
    low-dpi OCR failure mode."""
    return max(1, round(BLOCK * dpi / DEFAULT_DPI))


def _geom(block: int) -> tuple:
    """(cell_w, cell_h, margin) for a glyph-bit block size."""
    cell_w = (GLYPH_COLS + 1) * block  # 1 blank column between glyphs
    cell_h = (GLYPH_ROWS + 1) * block  # 1 blank row between lines
    margin = 3 * block  # border wide enough to escape unsharp overshoot
    return cell_w, cell_h, margin


def page_batch_ranges(total_pages: int, batch_size) -> List[tuple]:
    """0-based inclusive page windows, the reference's --batch-size memory
    batching (ref ocr.py:393-433: render a window of pages, OCR them, free
    the bitmaps before the next window; pinned by ref
    tests/test_batch_size.py:92-97 — 10 pages, batch 3 ->
    [(0,2),(3,5),(6,8),(9,9)]). batch_size None -> one window."""
    if total_pages <= 0:
        return []
    if not batch_size:
        return [(0, total_pages - 1)]
    return [
        (start, min(start + batch_size - 1, total_pages - 1))
        for start in range(0, total_pages, batch_size)
    ]

#: printable chars the font covers; everything else renders as space
CHARSET = (
    " abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    ".,;:?!()[]{}-\"'•–—▪\n"
)


@lru_cache(maxsize=None)
def _glyph(ch: str) -> np.ndarray:
    """5x7 bit pattern for a char, derived from md5 so every glyph is
    unique, deterministic, and has balanced ink."""
    if ch == " ":
        return np.zeros((GLYPH_ROWS, GLYPH_COLS), dtype=bool)
    digest = hashlib.md5(f"glyph:{ch}".encode()).digest()
    bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))[: GLYPH_ROWS * GLYPH_COLS]
    g = bits.reshape(GLYPH_ROWS, GLYPH_COLS).astype(bool)
    g[0, 0] = True  # anchor bit: no non-space glyph is ever blank
    return g


def _layout(text: str) -> List[str]:
    """Hard-wrap text into PAGE_COLS-char render lines, preserving
    explicit newlines (each source line may span several render lines)."""
    out: List[str] = []
    for src_line in text.split("\n"):
        if not src_line:
            out.append("")
            continue
        for i in range(0, len(src_line), PAGE_COLS):
            out.append(src_line[i : i + PAGE_COLS])
    return out


def render_page(text: str, dpi: int = DEFAULT_DPI) -> np.ndarray:
    """Rasterize to uint8 grayscale with scan-like statistics: ink pixels
    ~U[0,50] on paper ~U[200,255], noise seeded from the page text (same
    text + dpi -> bit-identical bitmap). Bitmap dimensions scale with dpi
    (ref ocr.py:40: fitz.Matrix(dpi/72, dpi/72))."""
    blk = block_for_dpi(dpi)
    cell_w, cell_h, margin = _geom(blk)
    lines = _layout(text)
    # width tracks the longest line: a fixed wide page would leave short
    # pages <1% ink, and the chain's autocontrast(cutoff=1) clips the
    # darkest 1% — sparse ink must stay above the cutoff's mass
    n_cols = max(1, max((len(l) for l in lines), default=1))
    h = max(1, len(lines)) * cell_h + 2 * margin
    w = n_cols * cell_w + 2 * margin
    seed = int.from_bytes(hashlib.md5(f"scan:{text}".encode()).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    img = rng.integers(200, 256, size=(h, w), dtype=np.int64).astype(np.uint8)
    ink = rng.integers(0, 51, size=(h, w), dtype=np.int64).astype(np.uint8)
    for row, line in enumerate(lines):
        y0 = row * cell_h + margin
        for col, ch in enumerate(line):
            g = _glyph(ch if ch in CHARSET else " ")
            if not g.any():
                continue
            x0 = col * cell_w + margin
            block = np.kron(g, np.ones((blk, blk), dtype=bool))
            ys_, xs_ = np.nonzero(block)
            img[y0 + ys_, x0 + xs_] = ink[y0 + ys_, x0 + xs_]
    return img


@lru_cache(maxsize=None)
def _codebook() -> tuple:
    """(chars, bit-matrix) for nearest-template matching."""
    chars = [ch for ch in CHARSET if ch not in (" ", "\n")]
    mat = np.stack([_glyph(ch).ravel() for ch in chars])
    return chars, mat


MAX_TEMPLATE_HAMMING = 8  # beyond this, the cell decodes as unreadable
MIN_GLYPH_BITS = 4  # fewer sampled ink bits than this -> stray noise, not a glyph


def decode_page(img: np.ndarray, dpi: int = DEFAULT_DPI) -> str:
    """Invert of render_page over a (possibly preprocessed) bitmap.

    Binarization threshold: the minimum value of the page's top border
    rows, which are paper by construction. The preprocess chain is
    rank-monotone on the ink/paper populations (every grayscale map is
    monotone; the local filters only perturb near glyph edges), so
    "strictly below the darkest border paper" identifies ink after ANY of
    the chain's global remaps — including histogram equalization, which
    defeats value- and variance-based thresholds (flat histogram). Then
    sample the 35 block centers per cell and nearest-template match with
    a Hamming cap; cells with fewer than MIN_GLYPH_BITS ink samples are
    paper (absorbs sharpen/unsharp overshoot near edges).
    """
    blk = block_for_dpi(dpi)
    cell_w, cell_h, margin = _geom(blk)
    chars_cb, mat = _codebook()
    thresh = int(img[:3, :].min())  # outermost border rows: pure paper
    dark = img < thresh
    lines: List[str] = []
    n_rows = (img.shape[0] - 2 * margin) // cell_h
    n_cols = (img.shape[1] - 2 * margin) // cell_w
    ys = np.arange(GLYPH_ROWS) * blk + blk // 2
    xs = np.arange(GLYPH_COLS) * blk + blk // 2
    for row in range(n_rows):
        y0 = row * cell_h + margin
        chars: List[str] = []
        for col in range(n_cols):
            x0 = col * cell_w + margin
            bits = dark[np.ix_(y0 + ys, x0 + xs)].ravel()
            if np.count_nonzero(bits) < MIN_GLYPH_BITS:
                chars.append(" ")
                continue
            dists = np.count_nonzero(mat != bits, axis=1)
            best = int(np.argmin(dists))
            chars.append(
                chars_cb[best] if dists[best] <= MAX_TEMPLATE_HAMMING else "�"
            )
        lines.append("".join(chars).rstrip())
    return "\n".join(lines)


def rebuild_wrapped(text: str, decoded: str) -> str:
    """Undo the hard wrap: render lines belonging to one source line of
    ``text`` rejoin (the source line lengths determine the chunking)."""
    src_lines = _layout(text)
    out_lines = decoded.split("\n")
    rebuilt: List[str] = []
    idx = 0
    for src_line in text.split("\n"):
        n_chunks = max(1, (len(src_line) + PAGE_COLS - 1) // PAGE_COLS)
        rebuilt.append("".join(out_lines[idx : idx + n_chunks]))
        idx += n_chunks
    assert idx == len(src_lines) or not src_lines
    return "\n".join(rebuilt)


def ocr_roundtrip(text: str, dpi: int = DEFAULT_DPI) -> str:
    """render -> full preprocess chain -> decode. Deterministic; accuracy
    is high but not exact (see module doc — residual errors model OCR
    noise). Unsupported chars decode as spaces (they render as spaces)."""
    img = render_page(text, dpi=dpi)
    processed = preprocess_page(img)
    decoded = decode_page(processed, dpi=dpi)
    return rebuild_wrapped(text, decoded)
