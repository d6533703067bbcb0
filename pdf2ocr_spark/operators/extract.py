"""docs -> spans_out: the one per-document extraction operator.

Every extraction path runs the same Arrow kernel (``extraction_kernel``):
one ``mapInArrow`` stage that runs the whole reference per-document
dataflow (OCR-language clean -> boilerplate strip -> paragraph FSM ->
multi-format span emission; see kernel/emit.py) in a single Python-worker
pass per Arrow batch — the Spark analogue of the reference's operator fusion
(whole chain per file in one process, /root/reference/pdf2ocr/converters/pdf.py:663-739).
The kernel reads either the nested ``docs(doc_id, spans)`` relation or the
small ``(doc_id, text, source)`` rows, which it turns into spans with the
docgen channel in the same pass.

Skew handling (SURVEY.md §4 / north rule): documents are one row each, so
classic key-salting is moot (no key repeats); the skew is per-row WEIGHT
(page count — a heavy doc is 40x a light one). ``stripe_key`` hashes
``doc_id`` alone: heavy and light docs spread uniformly and independently,
so every partition receives the same expected mix without any global sort
(which would not survive 10^12 rows). The paragraph FSM is inherently
sequential per document, so a single monster document bounds one task. That
task stays short: one 10,001-page document (13,308 spans) is one kernel call
of 0.54 s for text+html and 0.63-0.69 s for all four formats on one core of a
4-core Xeon host. Spreading such a document over per-page tasks cost more in
fixed per-task work than it saved in balance (BENCH/heavy_doc_skew.py), so
this is the one extraction path.
"""

from __future__ import annotations

import json
import time
from typing import Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.kernel.emit import ALL_FORMATS, extract_from_pages, page_texts_in_order
from pdf2ocr_spark.schema import SPANS_OUT_SCHEMA

#: ``kind`` of the one lineage sentinel row per part_id in lineage mode
LINEAGE_KIND = "_lineage"

#: the doc -> part_id map, recorded in lineage ``part_mode`` next to its
#: ``partitions`` n: resume skips a "done" partition only under both
PART_MAP = "pmod(hash(cast(doc_id as string)), n)"

_OUT_NAMES = ["doc_id", "kind", "text", "media_ref", "offset"]


def stripe_column():
    """The stripe shuffle's key: ``repartition(n, stripe_column())`` puts
    each document in shuffle partition ``stripe_key(n)``."""
    return F.col("doc_id").cast("string")


def stripe_key(num_partitions: int):
    """The doc -> partition key, ``pmod(hash(cast(doc_id as string)), n)``.

    Needs only ``doc_id``, so it is the same on the small documents
    relation (int64 ids) and the nested docs relation (string ids): every
    mode and every run maps a document to the same ``part_id``, which the
    checkpoint resume contract relies on. Hashing alone balances the
    skewed corpus. ``hash`` is the hash partitioner's own Murmur3, so
    part_id p is shuffle partition p (re-hashing part_id would not be)."""
    return F.pmod(F.hash(stripe_column()), F.lit(num_partitions))


def _pages_reader(batch):
    """The batch's doc ids and ``pages_of(i) -> (pages, media)``: document
    i's page texts and media refs in ``offset`` order. Reads nested
    ``spans`` straight from the Arrow ListArray (no per-span dict objects),
    or builds them from ``(text, source)`` with the docgen channel."""
    doc_ids = [str(d) for d in batch.column("doc_id").to_pylist()]
    if "spans" not in batch.schema.names:
        texts = batch.column("text").to_pylist()
        sources = batch.column("source").to_pylist()

        def from_text(i):
            return page_texts_in_order(build_spans(doc_ids[i], texts[i], sources[i]))

        return doc_ids, from_text

    spans = batch.column("spans")
    bounds = spans.offsets.to_numpy(zero_copy_only=False)
    flat = spans.values
    kinds = flat.field("kind").to_pylist()
    texts = flat.field("text").to_pylist()
    refs = flat.field("media_ref").to_pylist()
    offs = flat.field("offset")
    null_offs = offs.is_null().to_numpy(zero_copy_only=False) if offs.null_count else None
    offs = offs.to_numpy(zero_copy_only=False)

    def from_spans(i):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        if null_offs is not None and null_offs[lo:hi].any():
            raise ValueError(f"document {doc_ids[i]!r} has a span with a null offset")
        order = sorted(range(lo, hi), key=offs.__getitem__)
        pages = [texts[j] or "" for j in order if kinds[j] == "page"]
        media = [refs[j] for j in order if kinds[j] == "media" and refs[j]]
        return pages, media

    return doc_ids, from_spans


def _record_batch(rows, part_ids=None):
    cols = list(zip(*rows)) or [()] * len(_OUT_NAMES)
    types = [pa.string(), pa.string(), pa.string(), pa.string(), pa.int32()]
    arrays = [pa.array(c, t) for c, t in zip(cols, types)]
    names = list(_OUT_NAMES)
    if part_ids is not None:
        arrays.append(pa.array(part_ids, pa.int32()))
        names.append("part_id")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def extraction_kernel(
    formats: Sequence[str],
    lang: str,
    max_sentences: Optional[int],
    lineage: int = 0,
):
    """The ``mapInArrow`` function every extraction path runs.

    Input batches hold ``(doc_id, spans)`` or ``(doc_id, text, source)``,
    plus ``part_id`` in lineage mode; output is ``SPANS_OUT_SCHEMA`` rows.
    A span with a null ``offset`` has no reading order, so its document
    raises ``ValueError``. ``lineage=n`` (n > 0) is lineage mode for n
    partitions: the output also carries ``part_id``; each document is
    timed and its errors are isolated (reference-style per-file
    try/except, pdf.py:743-746) into the partition's lineage, and after
    the last batch one ``LINEAGE_KIND`` sentinel per ``part_id`` carries
    the partition's metrics as JSON."""
    fmts = tuple(formats)

    def run(batches):
        # a checkpoint task holds several whole part_ids (coalesce): bucket per part_id
        stats: dict[int, dict] = {}
        for batch in batches:
            doc_ids, pages_of = _pages_reader(batch)
            pids = batch.column("part_id").to_pylist() if lineage else None
            out, out_pids = [], []
            for i, doc_id in enumerate(doc_ids):
                if not lineage:
                    pages, media = pages_of(i)
                    out.extend(
                        extract_from_pages(doc_id, pages, media, fmts, lang, max_sentences)
                    )
                    continue
                st = stats.setdefault(
                    pids[i], {"docs": 0, "pages": 0, "spans": 0, "wall": 0.0, "errors": []}
                )
                st["docs"] += 1
                t0 = time.monotonic()
                try:
                    pages, media = pages_of(i)
                    st["pages"] += len(pages)
                    rows = extract_from_pages(doc_id, pages, media, fmts, lang, max_sentences)
                except Exception as exc:  # reference-style per-doc isolation
                    st["errors"].append(f"{doc_id}: {exc}")
                    rows = []
                st["wall"] += time.monotonic() - t0
                st["spans"] += len(rows)
                out.extend(rows)
                out_pids.extend([pids[i]] * len(rows))
            yield _record_batch(out, out_pids if lineage else None)
        if stats:
            sentinels = [
                (None, LINEAGE_KIND, _lineage_json(st, lineage), None, 0)
                for _, st in sorted(stats.items())
            ]
            yield _record_batch(sentinels, sorted(stats))

    return run


def _lineage_json(st: dict, num_partitions: int) -> str:
    return json.dumps(
        {
            "doc_count": st["docs"],
            "page_count": st["pages"],
            "span_count": st["spans"],
            "wall_sec": round(st["wall"], 4),
            "docs_per_sec": (
                round(st["docs"] / st["wall"], 3) if st["wall"] > 0 else None
            ),
            "status": "success",
            "errors": st["errors"],
            "part_mode": PART_MAP,
            "partitions": num_partitions,
        }
    )


def extract_spans_arrow(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> DataFrame:
    """Run the extraction kernel over the nested docs relation.

    Returns the spans_out relation (doc_id, kind, text, media_ref, offset).
    Deterministic: output row SET is independent of partitioning."""
    return docs.select("doc_id", "spans").mapInArrow(
        extraction_kernel(formats, lang, max_sentences), schema=SPANS_OUT_SCHEMA
    )


def documents_to_spans(
    documents: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> DataFrame:
    """FUSED ingest path: (doc_id, text, source) -> spans_out in ONE Python
    pass per batch (docgen channel + extraction kernel back to back, no
    nested Arrow round trip, no second worker chain); the stage
    ``pipeline.run_pipeline`` and every streaming micro-batch run."""
    return documents.select("doc_id", "text", "source").mapInArrow(
        extraction_kernel(formats, lang, max_sentences), schema=SPANS_OUT_SCHEMA
    )
