"""docs -> spans_out: the one per-document extraction operator.

Every extraction path runs the same per-document call: ``pages_reader``
then ``kernel.emit.extract_from_pages``, the whole reference per-document
dataflow (OCR-language clean -> boilerplate strip -> paragraph FSM ->
multi-format span emission) in a single Python-worker pass per Arrow batch
— the Spark analogue of the reference's operator fusion (whole chain per
file in one process, /root/reference/pdf2ocr/converters/pdf.py:663-739).
``extraction_kernel`` has one mode, which ``extract_spans_arrow``,
``pipeline.run_pipeline`` and every streaming micro-batch run; the
checkpointed job's ``operators.checkpoint.checkpoint_kernel`` makes the
same call and owns the lineage protocol around it.
Every per-document kernel (extraction, and the OCR stage in ocr.py) takes
either document shape, and the shape rule is written here once on each side
of the Arrow boundary: ``document_columns`` picks the columns a stage ships,
``pages_reader`` reads them. A shape is the nested ``docs(doc_id, spans)``
relation or the small ``(doc_id, text, source)`` rows, which the reader turns
into spans with the docgen channel in the same Python pass.

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

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ocr_spark.arrowmap import arrow_schema, record_batch
from pdf2ocr_spark.kernel.docgen import build_spans
from pdf2ocr_spark.kernel.emit import (
    ALL_FORMATS,
    extract_from_pages,
    null_offset,
    page_texts_in_order,
)
from pdf2ocr_spark.schema import SPANS_OUT_SCHEMA

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


def document_columns(docs: DataFrame) -> list:
    """The columns a per-document kernel ships across the Arrow boundary:
    ``doc_id`` and ``spans`` for the nested docs relation, else the small
    rows' ``doc_id``, ``text`` and ``source`` (``pages_reader`` reads both)."""
    return ["doc_id", "spans"] if "spans" in docs.columns else ["doc_id", "text", "source"]


def pages_reader(batch):
    """The batch's doc ids and ``pages_of(i) -> (pages, media)``: document
    i's page texts and media refs in ``offset`` order. Reads nested
    ``spans`` straight from the Arrow ListArray (no per-span dict objects),
    or builds them from ``(text, source)`` with the docgen channel."""
    doc_ids = [str(d) for d in batch.column("doc_id").to_pylist()]
    if "spans" not in batch.schema.names:
        texts = batch.column("text").to_pylist()
        sources = batch.column("source").to_pylist()

        def from_text(i):
            return page_texts_in_order(doc_ids[i], build_spans(doc_ids[i], texts[i], sources[i]))

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
            raise null_offset(doc_ids[i])
        order = sorted(range(lo, hi), key=offs.__getitem__)
        pages = [texts[j] or "" for j in order if kinds[j] == "page"]
        media = [refs[j] for j in order if kinds[j] == "media" and refs[j]]
        return pages, media

    return doc_ids, from_spans


def extraction_kernel(formats: Sequence[str], lang: str, max_sentences: Optional[int]):
    """The ``mapInArrow`` function every extraction path runs.

    Input batches hold ``(doc_id, spans)`` or ``(doc_id, text, source)``;
    output is ``SPANS_OUT_SCHEMA`` rows. A span with a null ``offset`` has
    no reading order, so its document raises ``ValueError``. The
    checkpointed job wraps the same per-document call with its lineage
    (``operators.checkpoint.checkpoint_kernel``)."""
    fmts = tuple(formats)
    schema = arrow_schema(SPANS_OUT_SCHEMA)

    def run(batches):
        for batch in batches:
            doc_ids, pages_of = pages_reader(batch)
            out = []
            for i, doc_id in enumerate(doc_ids):
                out.extend(extract_from_pages(doc_id, *pages_of(i), fmts, lang, max_sentences))
            yield record_batch(out, schema)

    return run


def extract_spans_arrow(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> DataFrame:
    """Run the extraction kernel over either document shape (see
    ``document_columns``) in one ``mapInArrow`` stage: the stage
    ``pipeline.run_pipeline`` and every streaming micro-batch run.

    Returns the spans_out relation (doc_id, kind, text, media_ref, offset).
    Deterministic: output row SET is independent of partitioning."""
    return docs.select(*document_columns(docs)).mapInArrow(
        extraction_kernel(formats, lang, max_sentences), schema=SPANS_OUT_SCHEMA
    )
