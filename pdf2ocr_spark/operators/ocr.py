"""docs -> OCR-recovered docs: the rasterize+preprocess+decode stage.

The Spark analogue of the reference's render->preprocess->Tesseract page
loop (ref ocr.py:268-326), as one ``mapInArrow`` stage: for every
``kind='page'`` span, the kernel renders the text to a synthetic scan
bitmap, runs the full §2.3 preprocess chain, and decodes the text back
(kernel/rasterocr.py). Deterministic and self-validating:
``recovered_matches``/``page_count`` reports exactness.

This stage is CPU-heavy by design (it is the raster workload); it is a
separate operator rather than part of the default text pipeline, mirroring
the reference where OCR happens once at ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdf2ocr_spark.arrowmap import arrow_schema, record_batch
from pdf2ocr_spark.operators.extract import document_columns, pages_reader

OCR_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_count", T.LongType()),
        T.StructField("recovered_matches", T.LongType()),
        T.StructField("recovered_chars", T.LongType()),
    ]
)


def ocr_recover_stats(
    docs: DataFrame,
    max_pages_per_doc: int = 4,
    dpi: int = None,
    batch_size: int = None,
    adaptive: bool = False,
) -> DataFrame:
    """Run the OCR round trip over (a bounded number of) pages per doc and
    report per-doc recovery stats. Bounding keeps the demo query cheap;
    the kernel itself has no such limit.

    ``dpi`` scales the raster resolution (ref ocr.py:40 zoom matrix).
    ``batch_size`` windows the per-doc page rendering (ref ocr.py:393-433):
    pages are rendered window by window into pre-allocated slots and each
    window's bitmaps are freed before the next renders, so peak bitmap
    memory per task is O(batch_size), not O(pages) — the heavy-doc-tail
    control at scale.
    ``adaptive`` runs the real tiled CLAHE in the Step-3 contrast slot
    (kernel/imageproc.clahe; what the reference computes WITH skimage
    installed, ref ocr.py:122-135) instead of the reference's no-skimage
    autocontrast fallback. ``docs`` is either document shape, read as the
    extraction kernel reads it (``document_columns``, ``pages_reader``),
    so the small rows need no separate docgen stage and a null ``offset``
    fails both stages alike."""
    schema = arrow_schema(OCR_STATS_SCHEMA)

    def run(batches):
        from pdf2ocr_spark.kernel.imageproc import preprocess_page
        from pdf2ocr_spark.kernel.rasterocr import (
            DEFAULT_DPI,
            decode_page,
            page_batch_ranges,
            rebuild_wrapped,
            render_page,
        )

        eff_dpi = dpi or DEFAULT_DPI
        for batch in batches:
            doc_ids, pages_of = pages_reader(batch)
            rows = []
            for d, doc_id in enumerate(doc_ids):
                pages = pages_of(d)[0][:max_pages_per_doc]
                # pre-allocated slots + windowed render (ref ocr.py:386-433)
                recovered = [None] * len(pages)
                for start, end in page_batch_ranges(len(pages), batch_size):
                    bitmaps = [
                        render_page(pages[i], dpi=eff_dpi)
                        for i in range(start, end + 1)
                    ]
                    for i, img in enumerate(bitmaps, start=start):
                        recovered[i] = rebuild_wrapped(
                            pages[i],
                            decode_page(
                                preprocess_page(img, adaptive=adaptive),
                                dpi=eff_dpi,
                            ),
                        )
                    del bitmaps  # free the window before the next renders
                matches = sum(1 for p, r in zip(pages, recovered) if p == r)
                chars = sum(len(p) for p in pages)
                rows.append((doc_id, len(pages), matches, chars))
            yield record_batch(rows, schema)

    return docs.select(*document_columns(docs)).mapInArrow(run, OCR_STATS_SCHEMA)
