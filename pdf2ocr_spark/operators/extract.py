"""docs -> spans_out: the fused per-document extraction stage.

One ``mapInPandas`` stage runs the whole reference per-document dataflow
(OCR-language clean -> boilerplate strip -> paragraph FSM -> multi-format
span emission; see kernel/emit.py) in a single Python-worker pass per
Arrow batch — the Spark analogue of the reference's operator fusion
(whole chain per file in one process, /root/reference/pdf2ocr/converters/pdf.py:663-739).

Skew handling (SURVEY.md §4 / north rule): documents are one row each, so
classic key-salting is moot (no key repeats); the skew is per-row WEIGHT
(page count — a heavy doc is 40x a light one). ``skew_balanced`` does an
explicit weight-striped repartition: docs are bucketed by log2(weight)
class and hash-spread within each class, so every partition receives the
same expected mix of light and heavy docs without any global sort (which
would not survive 10^12 rows). The paragraph FSM is inherently sequential
per document, so a single monster document bounds one task — the page-scope
stages for such docs are handled by the exploded path (see
``operators/exploded.py``).
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ocr_spark.kernel.emit import ALL_FORMATS, extract_document
from pdf2ocr_spark.schema import SPANS_OUT_SCHEMA


def skew_balanced(docs: DataFrame, num_partitions: int) -> DataFrame:
    """Weight-striped repartition of the docs relation.

    Partition key = hash(doc_id) XOR'd with the document's weight class
    (log2 of span count), modulo ``num_partitions``: heavy docs of each
    class spread uniformly and independently, so the expected work per
    partition is balanced by the law of large numbers — one shuffle, no
    global ordering, scale-invariant.
    """
    wclass = F.floor(F.log2(F.greatest(F.size("spans"), F.lit(1)) + 1))
    key = F.pmod(
        F.xxhash64(F.col("doc_id"), wclass.cast("long")), F.lit(num_partitions)
    ).cast("int")
    return docs.repartition(num_partitions, key)


def extract_spans(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Run the extraction kernel over the docs relation.

    Returns the spans_out relation (doc_id, kind, text, media_ref, offset).
    Deterministic: output row SET is independent of partitioning.
    """
    if num_partitions:
        docs = skew_balanced(docs, num_partitions)

    fmts = tuple(formats)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["doc_id", "kind", "text", "media_ref", "offset"]
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                rows.extend(
                    extract_document(doc_id, spans, fmts, lang, max_sentences)
                )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id", "spans").mapInPandas(run, schema=SPANS_OUT_SCHEMA)


def extract_spans_arrow(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Columnar fast path over the nested docs relation via ``mapInArrow``.

    ``mapInPandas`` materializes every ``array<struct>`` cell as a Python
    list of dicts — for span-heavy documents that conversion dominates the
    stage (measured ~4-5x over the raw kernel). Here the kernel reads the
    Arrow ListArray/StructArray directly: one ``offsets`` vector + four
    flat child arrays per batch, zero per-span dict objects.
    """
    import pyarrow as pa

    if num_partitions:
        docs = skew_balanced(docs, num_partitions)

    fmts = tuple(formats)

    def run(batches):
        from pdf2ocr_spark.kernel.emit import extract_from_pages

        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            spans = batch.column("spans")
            if isinstance(spans, pa.ChunkedArray):
                spans = spans.combine_chunks()
            offsets = spans.offsets.to_numpy(zero_copy_only=False)
            flat = spans.flatten()
            kinds = flat.field("kind").to_pylist()
            texts = flat.field("text").to_pylist()
            refs = flat.field("media_ref").to_pylist()
            offs = flat.field("offset").to_numpy(zero_copy_only=False)

            out_doc, out_kind, out_text, out_ref, out_off = [], [], [], [], []
            for i, doc_id in enumerate(doc_ids):
                lo, hi = int(offsets[i]), int(offsets[i + 1])
                order = sorted(range(lo, hi), key=lambda j: offs[j])
                pages = [texts[j] or "" for j in order if kinds[j] == "page"]
                media = [refs[j] for j in order if kinds[j] == "media" and refs[j]]
                for r in extract_from_pages(
                    doc_id, pages, media, fmts, lang, max_sentences
                ):
                    out_doc.append(r[0])
                    out_kind.append(r[1])
                    out_text.append(r[2])
                    out_ref.append(r[3])
                    out_off.append(r[4])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_doc, pa.string()),
                    pa.array(out_kind, pa.string()),
                    pa.array(out_text, pa.string()),
                    pa.array(out_ref, pa.string()),
                    pa.array(out_off, pa.int32()),
                ],
                names=["doc_id", "kind", "text", "media_ref", "offset"],
            )

    return docs.select("doc_id", "spans").mapInArrow(run, schema=SPANS_OUT_SCHEMA)


def documents_to_spans(
    documents: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
) -> DataFrame:
    """FUSED ingest path: (doc_id, text, source) -> spans_out in ONE Python
    pass per batch (docgen channel + extraction kernel back to back, no
    intermediate nested Arrow round trip, no second worker chain); the
    stage every streaming micro-batch runs (``streaming/ingest.py``). Emits
    Arrow RecordBatches directly: the span-heavy output (~36 rows/doc)
    through the pandas path pays a tuple-list -> DataFrame -> Arrow
    conversion that measured ~4-5x the kernel itself (same finding as
    extract_spans_arrow above)."""
    import pyarrow as pa

    fmts = tuple(formats)

    def run(batches):
        from pdf2ocr_spark.kernel.docgen import build_spans
        from pdf2ocr_spark.kernel.emit import extract_document

        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            sources = batch.column("source").to_pylist()
            o_doc, o_kind, o_text, o_ref, o_off = [], [], [], [], []
            for doc_id, text, source in zip(doc_ids, texts, sources):
                did = str(doc_id)
                spans = build_spans(did, text, source)
                for r in extract_document(did, spans, fmts, lang, max_sentences):
                    o_doc.append(r[0])
                    o_kind.append(r[1])
                    o_text.append(r[2])
                    o_ref.append(r[3])
                    o_off.append(r[4])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_doc, pa.string()),
                    pa.array(o_kind, pa.string()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_ref, pa.string()),
                    pa.array(o_off, pa.int32()),
                ],
                names=["doc_id", "kind", "text", "media_ref", "offset"],
            )

    return documents.select("doc_id", "text", "source").mapInArrow(
        run, schema=SPANS_OUT_SCHEMA
    )
