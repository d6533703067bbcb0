"""Heavy-document extraction path: page-level parallelism.

The fused path (operators/extract.py) processes one document per kernel
call — correct and fastest for typical documents, but a single
10,000-page document bounds one task. This module re-expresses the same
semantics with PAGE-level parallelism so a monster document spreads
across the cluster; only the whole-document paragraph FSM (inherently
sequential per doc, SURVEY.md §2.4) funnels into a per-doc group.

Plan shape:

  docs -> posexplode(spans)                        [narrow]
       -> repartition(doc_id, offset)              [page-granular balance]
       -> distributed boilerplate strip:           [the SQL-style plan]
            edge lines -> groupBy(doc,line) countDistinct(page)
            >= 60% of pages & >= 3 pages -> left_anti join back
       -> per-PAGE paragraph rebuild (pandas_udf,  [parallel across ALL
          vectorized across pages of all docs)      pages of all docs]
       -> window numbering -> html/text/page_header spans
       -> per-DOC FSM for docx_para/markdown via applyInPandas
          (the only per-doc funnel)
       -> media passthrough

Output is span-for-span IDENTICAL to extract_spans_arrow (equivalence test
in tests/test_exploded_path.py).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2ocr_spark.kernel.emit import (
    ALL_FORMATS,
    PAGE_HEADER_TEMPLATE,
    markdown_blocks,
    wrap_paragraph,
)
from pdf2ocr_spark.schema import SPANS_OUT_SCHEMA


def _pages(docs: DataFrame) -> DataFrame:
    s = docs.select("doc_id", F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def _strip_boilerplate_distributed(pages: DataFrame) -> DataFrame:
    """Distributed equivalent of kernel strip_boilerplate_lines
    (common.py:116-150): line-level anti-join instead of a per-doc Counter.
    Input/output: (doc_id, offset, text) page rows."""
    lines = pages.select(
        "doc_id",
        "offset",
        F.posexplode(F.split(F.coalesce("text", F.lit("")), "\n")).alias(
            "line_no", "line"
        ),
    )
    n_lines = lines.groupBy("doc_id", "offset").agg(
        F.max("line_no").alias("max_ln")
    )
    lines = lines.join(n_lines, ["doc_id", "offset"])

    npages = pages.groupBy("doc_id").agg(F.count("*").alias("n_pages"))

    edges = (
        lines.where(
            (F.col("line_no") < 2) | (F.col("line_no") > F.col("max_ln") - 2)
        )
        .where(F.trim("line") != "")
        .select("doc_id", "offset", F.trim("line").alias("cand"))
        .distinct()
    )
    boiler = (
        edges.groupBy("doc_id", "cand")
        .agg(F.countDistinct("offset").alias("hits"))
        .join(npages, "doc_id")
        .where((F.col("n_pages") >= 3) & (F.col("hits") >= 0.6 * F.col("n_pages")))
        .select("doc_id", F.col("cand").alias("boiler_line"))
    )

    kept = lines.join(
        boiler,
        (lines["doc_id"] == boiler["doc_id"])
        & (F.trim(lines["line"]) == boiler["boiler_line"]),
        "left_anti",
    )
    return kept.groupBy("doc_id", "offset").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text")
    )


_PARAS_UDF_SCHEMA = T.ArrayType(T.StringType())


def extract_spans_exploded(
    docs: DataFrame,
    formats: Sequence[str] = ALL_FORMATS,
    lang: str = "eng",
    max_sentences: Optional[int] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    want = set(formats)
    pages_all = _pages(docs)
    if num_partitions:
        pages_all = pages_all.repartition(num_partitions, "doc_id", "offset")

    page_rows = pages_all.where(F.col("kind") == "page")

    # OCR-language clean (per page, parallel)
    if lang.lower() == "por":
        from pdf2ocr_spark.plans.queries import PT_DISALLOWED

        page_rows = page_rows.withColumn(
            "text", F.regexp_replace(F.coalesce("text", F.lit("")), PT_DISALLOWED, "")
        )

    stripped = _strip_boilerplate_distributed(page_rows)

    out_parts: List[DataFrame] = []

    # ---- per-page formats, vectorized across pages of ALL docs
    if want & {"text", "html"}:
        ms = max_sentences

        @F.pandas_udf(_PARAS_UDF_SCHEMA)
        def paras_udf(texts: pd.Series) -> pd.Series:
            from pdf2ocr_spark.kernel.textproc import reassemble_paragraphs

            return texts.map(lambda t: reassemble_paragraphs(t or "", ms))

        paged = stripped.withColumn("paras", paras_udf("text")).where(
            F.size("paras") > 0
        )
        w_page = Window.partitionBy("doc_id").orderBy("offset")
        paged = paged.withColumn("page_no", F.row_number().over(w_page))

        headers = paged.select(
            "doc_id",
            F.lit("page_header").alias("kind"),
            F.format_string(
                PAGE_HEADER_TEMPLATE.replace("{n}", "%d"), F.col("page_no")
            ).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (F.col("page_no") - 1).alias("offset"),
        )
        out_parts.append(headers)

        para_rows = paged.select(
            "doc_id",
            F.col("offset").alias("page_offset"),
            F.posexplode("paras").alias("para_idx", "para"),
        )
        # The w_page window left everything hash-partitioned by doc_id,
        # so WITHOUT this exchange the para explode and the Python wrap
        # stage below inherit doc-level partitioning — a 1,000+-page
        # monster document funnels its entire para relation through ONE
        # task (measured: dominant-stage max task 4.3 s vs a 1.2 s
        # no-monster control, BENCH/exploded_skew.py). Re-spreading to
        # page granularity keeps the expensive per-para work balanced;
        # only the cheap JVM row_number windows below re-collect per doc.
        para_rows = para_rows.repartition(
            *([num_partitions] if num_partitions else []),
            "doc_id",
            "page_offset",
        )
        if "html" in want:
            w = Window.partitionBy("doc_id").orderBy("page_offset", "para_idx")
            out_parts.append(
                para_rows.select(
                    "doc_id",
                    F.lit("html").alias("kind"),
                    F.concat(F.lit("<p>"), "para", F.lit("</p>")).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (F.row_number().over(w) - 1).alias("offset"),
                )
            )
        if "text" in want:

            @F.pandas_udf(_PARAS_UDF_SCHEMA)
            def wrap_udf(paras: pd.Series) -> pd.Series:
                return paras.map(wrap_paragraph)

            w = Window.partitionBy("doc_id").orderBy(
                "page_offset", "para_idx", "line_idx"
            )
            out_parts.append(
                para_rows.withColumn("lines", wrap_udf("para"))
                .select(
                    "doc_id",
                    "page_offset",
                    "para_idx",
                    F.posexplode("lines").alias("line_idx", "line"),
                )
                .select(
                    "doc_id",
                    F.lit("text").alias("kind"),
                    F.col("line").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    (F.row_number().over(w) - 1).alias("offset"),
                )
            )

    # ---- whole-document formats: the per-doc funnel (applyInPandas)
    if want & {"docx_para", "markdown"}:
        fmts = tuple(want & {"docx_para", "markdown"})
        ms = max_sentences

        def doc_fsm(pdf: pd.DataFrame) -> pd.DataFrame:
            from pdf2ocr_spark.kernel.textproc import reassemble_paragraphs

            rows = []
            for doc_id, grp in pdf.groupby("doc_id"):
                pages = list(grp.sort_values("offset")["text"].fillna(""))
                paras = reassemble_paragraphs(pages, ms)
                if "docx_para" in fmts:
                    for i, p in enumerate(q for q in (p.strip() for p in paras) if q):
                        rows.append((doc_id, "docx_para", p, None, i))
                if "markdown" in fmts:
                    for i, b in enumerate(markdown_blocks(paras)):
                        rows.append((doc_id, "markdown", b, None, i))
            return pd.DataFrame(
                rows, columns=["doc_id", "kind", "text", "media_ref", "offset"]
            )

        out_parts.append(
            stripped.groupBy("doc_id").applyInPandas(doc_fsm, SPANS_OUT_SCHEMA)
        )

    # ---- media passthrough (original relative order)
    w_m = Window.partitionBy("doc_id").orderBy("offset")
    media = (
        pages_all.where(
            (F.col("kind") == "media") & F.col("media_ref").isNotNull()
        )
        .select(
            "doc_id",
            F.lit("media_ref").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            "media_ref",
            (F.row_number().over(w_m) - 1).alias("offset"),
        )
    )
    out_parts.append(media)

    result = out_parts[0]
    for part in out_parts[1:]:
        result = result.unionByName(part)
    return result.select("doc_id", "kind", "text", "media_ref", "offset")