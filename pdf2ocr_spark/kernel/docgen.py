"""Deterministic interleaved-corpus builder.

Derives the engine's input relation

    docs(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)

from the driver-provided ``documents`` table
(doc_id:int64, text, lang, source, n_chars — /root/testdata/sf*/documents.parquet).
Every transformation is seeded from md5(doc_id) so the corpus is identical
across runs, partitionings, and parallelism levels.

The generator plays the role of the physical world in the reference CLI
(a directory of scanned PDFs): it takes clean text and pushes it through a
synthetic "print + scan + OCR" channel, injecting exactly the artifact
classes the reference's downstream stages exist to repair
(/root/reference/pdf2ocr/converters/common.py):

- one line per visual line, broken mid-sentence       -> paragraph FSM merges
- stray blank lines inside sentences                  -> FSM noise rule
- split ligatures: 'fi lter'                          -> ligature repair
- page-number-only footer lines                      -> page-number filter
- a repeated running header on every page             -> boilerplate strip
- media spans interleaved between pages               -> media passthrough

Page-count skew: a seeded ~4% of documents are "heavy" (their word list is
tiled by a Zipf-ish factor up to 40x), so a uniform doc_id partitioning has
visible stragglers and salted repartitioning is observable in the bench.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache
from typing import Dict, List, Optional

WORDS_PER_SENTENCE = 8
SENTENCES_PER_PAGE = 5
HEAVY_DOC_RATE = 1.0 / 24  # ~4%
HEAVY_MAX_FACTOR = 40
MEDIA_RATE = 1.0 / 3  # chance of a media span after any given page


def _seed_stream(doc_id: str):
    """Infinite deterministic stream of floats in [0,1) keyed by doc_id."""
    counter = 0
    while True:
        h = hashlib.md5(f"{doc_id}:{counter}".encode()).digest()
        # 4 floats per digest, 4 bytes each
        for i in range(0, 16, 4):
            yield int.from_bytes(h[i : i + 4], "big") / 2**32
        counter += 1


_INV32 = 1.0 / 2**32


def _draw_block(doc_id: str, n_digests: int, start_counter: int = 0) -> List[float]:
    """The first ``4*n_digests`` values of ``_seed_stream(doc_id)`` as a
    plain list (generator frame switching was ~40% of the whole channel;
    sequence parity is pinned by test_docgen_draws_match_stream).
    Multiplying by the exactly-representable 2^-32 equals the stream's
    division bit-for-bit."""
    md5 = hashlib.md5
    frombytes = int.from_bytes
    out: List[float] = []
    append = out.append
    for c in range(start_counter, start_counter + n_digests):
        h = md5(f"{doc_id}:{c}".encode()).digest()
        append(frombytes(h[0:4], "big") * _INV32)
        append(frombytes(h[4:8], "big") * _INV32)
        append(frombytes(h[8:12], "big") * _INV32)
        append(frombytes(h[12:16], "big") * _INV32)
    return out


@lru_cache(maxsize=65536)
def _damage_ligature_word(word: str) -> str:
    """Split the first internal ligature pair ('fi'/'fl'/'ff' followed by a
    lowercase letter) with a space, the classic OCR artifact. Pure function
    of the word (the corpus vocabulary is small -> cached)."""
    for pair in ("fi", "fl", "ff"):
        idx = word.find(pair)
        if idx >= 0 and idx + 2 < len(word) and word[idx + 2].islower():
            return word[: idx + 2] + " " + word[idx + 2 :]
    return word


def heavy_factor(doc_id: str) -> int:
    """Zipf-ish tiling factor; 1 for ~96% of docs, up to HEAVY_MAX_FACTOR."""
    h = hashlib.md5(f"{doc_id}:heavy".encode()).digest()
    u = int.from_bytes(h[:4], "big") / 2**32
    if u >= HEAVY_DOC_RATE:
        return 1
    v = int.from_bytes(h[4:8], "big") / 2**32
    return min(HEAVY_MAX_FACTOR, max(2, int(1.0 / max(v, 1.0 / HEAVY_MAX_FACTOR))))


def build_spans(doc_id: str, text: str, source: str) -> List[Dict]:
    """Build one document's interleaved span array from its clean text."""
    words = (text or "").split()
    if not words:
        return []
    words = words * heavy_factor(doc_id)

    # draw budget (exact upper bound): 1/word (damage), <=4/sentence
    # (break + cut + stray blank + real break), 1/page (media); one md5
    # block pass generates the same value sequence as _seed_stream
    n_words = len(words)
    n_sent = (n_words + WORDS_PER_SENTENCE - 1) // WORDS_PER_SENTENCE
    n_pg = (n_sent + SENTENCES_PER_PAGE - 1) // SENTENCES_PER_PAGE
    need = n_words + 4 * n_sent + n_pg + 4
    draws = _draw_block(doc_id, (need + 3) // 4)
    di = 0

    # --- clean sentences: fixed-width word chunks, capitalized, period-closed
    damage = _damage_ligature_word
    sentences = []
    for i in range(0, n_words, WORDS_PER_SENTENCE):
        chunk = words[i : i + WORDS_PER_SENTENCE]
        out_chunk = []
        for w in chunk:
            v = draws[di]
            di += 1
            out_chunk.append(damage(w) if v < 0.35 else w)
        sent = " ".join(out_chunk)
        sentences.append(sent[:1].upper() + sent[1:] + ".")

    header = f"Journal of {source}"
    spans: List[Dict] = []
    offset = 0
    media_no = 0

    def add(kind: str, text_val: Optional[str], media_ref: Optional[str]) -> None:
        nonlocal offset
        spans.append(
            {"kind": kind, "text": text_val, "media_ref": media_ref, "offset": offset}
        )
        offset += 1

    page_no = 0
    for p in range(0, len(sentences), SENTENCES_PER_PAGE):
        page_no += 1
        page_sents = sentences[p : p + SENTENCES_PER_PAGE]
        lines = [header]
        for sent in page_sents:
            ws = sent.split(" ")
            if len(ws) > 3:
                v = draws[di]
                di += 1
                do_break = v < 0.7
            else:
                do_break = False
            if do_break:
                # visual line break mid-sentence
                cut = 1 + int(draws[di] * (len(ws) - 2))
                di += 1
                lines.append(" ".join(ws[:cut]))
                if draws[di] < 0.25:
                    lines.append("")  # stray blank line inside a sentence
                di += 1
                lines.append(" ".join(ws[cut:]))
            else:
                lines.append(sent)
            if draws[di] < 0.3:
                lines.append("")  # blank line after sentence end: real break
            di += 1
        lines.append(str(page_no))  # page-number footer line
        add("page", "\n".join(lines), None)

        mdraw = draws[di]
        di += 1
        if mdraw < MEDIA_RATE:
            add("media", None, f"media://{doc_id}/{media_no}")
            media_no += 1

    return spans

