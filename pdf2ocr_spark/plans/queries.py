"""Oracle-checked named queries.

Each entry pairs a Spark DataFrame query with a DuckDB ANSI-SQL oracle
over the same parquet tables. Both sides implement the SAME declarative
spec, so the sf0.01 row-count/schema/value-hash comparison (see
__spark_entry__.py) is a real correctness gate.

The queries re-express the reference's text operators relationally
(SURVEY.md §2.2/§2.4/§2.5, file:line cited per query) over the
driver-provided ``documents`` table. Line/page structure is derived with a
fixed shared spec:

    tokens:   pos0 = 0-based word position in split(text, ' ')
    lines:    2 consecutive words            (line_no in page: 0..9)
    pages:    10 lines = 20 words
    header:   every page also carries a synthetic running-header line
              'Journal of <source>' (line_no -1) and a page-number footer
              line str(page_id+1) (line_no 99) — the relational stand-ins
              for the OCR channel artifacts the kernel pipeline handles.

Most queries are Catalyst column expressions. Five are pure
per-document functions — page_number_filter, line_predicates,
heading_detect, boilerplate_strip and quality_repetition: every grouping
key they have holds ``doc_id``, so each is row-local and runs as one
Python function per document inside one ``mapInArrow`` stage
(``_per_document``) above the scan's fan-out, with no shuffle. The line
spec on the Spark side lives in ``_doc_lines``; the oracle states it
relationally in ``_SQL_LINES_CTE``. Kernels that the dedup, similarity,
decontamination and media queries call live in ``functions/`` and
``operators/``.

Dialect notes: patterns avoid lookarounds (DuckDB is RE2); DuckDB
regexp_replace needs the 'g' flag to match Spark's global default;
backreference is $1 (Spark) vs \\1 (DuckDB).
"""

from __future__ import annotations

import os
import re
from collections import Counter
from itertools import groupby
from operator import itemgetter
from typing import Callable, Dict

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pdf2ocr_spark.functions.dedup import _fan_out
from pdf2ocr_spark.functions.quality import (
    DUP_WORD_MAX_BP,
    TOP_BIGRAM_MAX_BP,
    quality_bp_expr,
)

LINE_WORDS = 2
PAGE_LINES = 10
PAGE_WORDS = LINE_WORDS * PAGE_LINES

# Portuguese charset allowlist for pt_clean. Its whitespace is spelled out
# as ASCII ``\t\n\f\r `` because ``\s`` differs between Spark's Java regex
# (which adds \x0b) and DuckDB's RE2. The extraction kernel's allowlist
# (kernel/textproc.py) keeps Unicode ``\s`` whitespace instead.
PT_DISALLOWED = "[^a-zA-Z0-9áéíóúàãõâêôçÁÉÍÓÚÀÃÕÂÊÔÇ\\t\\n\\f\\r .,;:?!()\\[\\]{}\"'-]"


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# --------------------------------------------------------------------------
# shared derived relations (Spark side)
# --------------------------------------------------------------------------

def _no_push(cond: "F.Column") -> "F.Column":
    """Pin an expensive filter ABOVE the fan-out exchange: appends an
    always-false nondeterministic disjunct (monotonically_increasing_id()
    < 0), which predicate pushdown will not move — without it the
    optimizer inlines the filter's whole expression tree into the
    single-row-group parquet scan and evaluates it on one core (a
    projection-alias barrier column does not survive ColumnPruning).
    Semantics unchanged: the disjunct never fires."""
    return cond | (F.monotonically_increasing_id() < F.lit(0))


def _doc_lines(source: str, text: str):
    """The shared line spec for one document, as ``(page_id, line_no,
    line_text)`` rows — the ``all_lines`` relation of ``_SQL_LINES_CTE``.
    Each page is ``PAGE_WORDS`` words of ``text.split(" ")`` (empty words
    kept) and yields its rows in ``line_no`` order: the header ``(-1,
    'Journal of <source>')``, the body lines ``0..9`` of ``LINE_WORDS``
    words each, the footer ``(99, str(page_id + 1))``."""
    words = text.split(" ")
    header = "Journal of " + source
    for p, start in enumerate(range(0, len(words), PAGE_WORDS)):
        yield p, -1, header
        end = min(start + PAGE_WORDS, len(words))
        for ln, i in enumerate(range(start, end, LINE_WORDS)):
            yield p, ln, " ".join(words[i : i + LINE_WORDS])
        yield p, 99, str(p + 1)


def _per_document(
    spark: SparkSession, sf_dir: str, ddl: str, fn: Callable[[str, str], tuple]
) -> DataFrame:
    """A row-local query: one ``ddl`` row ``(doc_id, *fn(source, text))``
    per document (a null text reads as ``""``).

    The narrow ``(doc_id, source, text)`` scan fans out, then one
    ``mapInArrow`` loop calls ``fn`` for each row and builds each output
    batch in ``ddl``'s Arrow schema — no shuffle, no pandas."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def run(batches):
        for batch in batches:
            cols = [batch.column(c).to_pylist() for c in ("doc_id", "source", "text")]
            rows = [(d, *fn(s, t or "")) for d, s, t in zip(*cols)]
            out = list(zip(*rows)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(out, schema)], schema=schema
            )

    docs = _documents(spark, sf_dir).select("doc_id", "source", "text")
    return _fan_out(docs).mapInArrow(run, ddl)


# DuckDB-side shared CTEs, textually identical spec
_SQL_LINES_CTE = f"""
WITH toks AS (
    SELECT doc_id, source,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos0
    FROM documents
),
body_lines AS (
    SELECT doc_id,
           pos0 // {PAGE_WORDS} AS page_id,
           (pos0 % {PAGE_WORDS}) // {LINE_WORDS} AS line_no,
           string_agg(word, ' ' ORDER BY pos0) AS line_text
    FROM toks
    GROUP BY doc_id, pos0 // {PAGE_WORDS}, (pos0 % {PAGE_WORDS}) // {LINE_WORDS}
),
pages AS (
    SELECT doc_id, source,
           unnest(range(CAST(ceil(len(string_split(text, ' ')) / {PAGE_WORDS}.0) AS BIGINT))) AS page_id
    FROM documents
),
all_lines AS (
    SELECT doc_id, page_id, line_no, line_text FROM body_lines
    UNION ALL
    SELECT doc_id, page_id, CAST(-1 AS BIGINT), 'Journal of ' || source FROM pages
    UNION ALL
    SELECT doc_id, page_id, CAST(99 AS BIGINT), CAST(page_id + 1 AS VARCHAR) FROM pages
)
"""


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_ligature_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ligature damage + repair round-trip (ref converters/common.py:16-33).

    Damages every 'fi'+lowercase with an OCR-style split space, repairs it
    with the engine's ligature rule, and checks restoration.
    """
    docs = _documents(spark, sf_dir)
    damaged = F.regexp_replace("text", "fi([a-z])", "fi $1")
    fixed = F.regexp_replace(damaged, "fi\\s+([a-z])", "fi$1")
    return docs.select(
        "doc_id",
        fixed.alias("fixed_text"),
        (fixed == F.col("text")).alias("restored"),
    )


SQL_LIGATURE = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(text, 'fi([a-z])', 'fi \1', 'g'),
                      'fi\s+([a-z])', 'fi\1', 'g') AS fixed_text,
       regexp_replace(regexp_replace(text, 'fi([a-z])', 'fi \1', 'g'),
                      'fi\s+([a-z])', 'fi\1', 'g') = text AS restored
FROM documents
"""


def q_pt_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portuguese charset clean, language-gated (ref ocr.py:225-241,261-263)."""
    docs = _documents(spark, sf_dir)
    cleaned = F.when(
        F.col("lang").isin("pt", "es"), F.regexp_replace("text", PT_DISALLOWED, "")
    ).otherwise(F.col("text"))
    return docs.select("doc_id", "lang", cleaned.alias("clean_text"))


SQL_PT_CLEAN = f"""
SELECT doc_id, lang,
       CASE WHEN lang IN ('pt', 'es')
            THEN regexp_replace(text, '{PT_DISALLOWED.replace("'", "''")}', '', 'g')
            ELSE text END AS clean_text
FROM documents
"""


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + max_sentences chunking counts
    (ref common.py:153-171; split regex [.!?…]\\s+ without lookbehind)."""
    docs = _fan_out(_documents(spark, sf_dir))
    punctuated = F.regexp_replace("text", "\\sthe\\s", ". The ")
    n_sent = (
        F.size(F.regexp_extract_all(punctuated, F.lit("[.!?…]\\s+"), 0)) + 1
    ).cast("long")
    return docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        ((n_sent + 4) / 5).cast("long").alias("n_chunks"),
    )


SQL_SENTENCE_CHUNKS = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(regexp_replace(text, '\sthe\s', '. The ', 'g'),
                                   '[.!?…]\s+')) + 1 AS BIGINT) AS n_sentences,
       CAST((len(regexp_extract_all(regexp_replace(text, '\sthe\s', '. The ', 'g'),
                                    '[.!?…]\s+')) + 1 + 4) // 5 AS BIGINT) AS n_chunks
FROM documents
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish regex
    tokens (training-data op; SURVEY §2.2 whitespace collapse analogue)."""
    docs = _fan_out(_documents(spark, sf_dir))
    toks = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), 0)
        ).cast("long").alias("n_bpe_tokens"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus summary aggregates (ref converters/pdf.py:1016-1032).

    avg_chars_bp uses EXACT integer arithmetic
    ``(20000*sum + n) div (2*n)`` == floor(avg*10000 + 0.5): the double
    formulation sits exactly on the floor(+0.5) tie boundary for most
    groups (sum*10000 divisible by n), where 1-ulp engine differences flip
    the result.
    """
    docs = _documents(spark, sf_dir)
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            F.expr("(20000 * total_chars + n_docs) div (2 * n_docs)").alias(
                "avg_chars_bp"
            ),
            "total_chars",
            "max_chars",
        )
    )


# DuckDB sum(BIGINT) yields HUGEINT which pandas materializes as float64;
# CAST to BIGINT so the driver's value hash sees the same int64 as Spark.
SQL_SUMMARY_STATS = """
SELECT source, lang,
       count(*) AS n_docs,
       CAST((20000 * CAST(sum(n_chars) AS BIGINT) + count(*)) // (2 * count(*)) AS BIGINT) AS avg_chars_bp,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY source, lang
"""


_PAGE_NUMBER = re.compile(r"^\s*\d{1,4}\s*$")


def _page_number_counts(source, text):
    n = hits = 0
    for _page, _ln, line in _doc_lines(source, text):
        n += 1
        hits += bool(_PAGE_NUMBER.match(line))
    return n, hits


def q_page_number_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone page-number line filter (ref common.py:8,73): per
    document, its line count and how many lines are a bare page number.
    Every grouping key holds doc_id, so no shuffle is needed."""
    return _per_document(
        spark, sf_dir, "doc_id long, n_lines long, n_pagenum_lines long",
        _page_number_counts,
    )


SQL_PAGE_NUMBER_FILTER = (
    _SQL_LINES_CTE
    + r"""
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN regexp_matches(line_text, '^\s*\d{1,4}\s*$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pagenum_lines
FROM all_lines
GROUP BY doc_id
"""
)


_SELF_HEADER = re.compile(r"^pdf2ocr\s*-\s*Page\s*\d+$")
_BULLET = re.compile(r"^[•\-–—▪]")
_ENUMERATED = re.compile(r"^[0-9][.)].")


def _line_predicate_counts(source, text):
    n = sh = li = 0
    for page, ln, line in _doc_lines(source, text):
        if ln == 1:
            line = f"pdf2ocr - Page {page + 1}"
        elif ln == 2:
            line = "• " + line
        n += 1
        if _SELF_HEADER.match(line):
            sh += 1
        if _BULLET.match(line) or _ENUMERATED.match(line):
            li += 1
    return sh, li, n


def q_line_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-header + list-item predicates over lines (ref common.py:9,73
    and common.py:80-84): the channel turns line 1 of each page into a
    'pdf2ocr - Page N' self-header and line 2 into a bullet item, then the
    predicates count them back. Every grouping key holds doc_id, so no
    shuffle is needed."""
    return _per_document(
        spark, sf_dir,
        "doc_id long, n_self_header_lines long, n_list_item_lines long, n_lines long",
        _line_predicate_counts,
    )


SQL_LINE_PREDICATES = (
    _SQL_LINES_CTE
    + r"""
, decorated AS (
    SELECT doc_id,
           CASE WHEN line_no = 1 THEN 'pdf2ocr - Page ' || CAST(page_id + 1 AS VARCHAR)
                WHEN line_no = 2 THEN '• ' || line_text
                ELSE line_text END AS line_d
    FROM all_lines
)
SELECT doc_id,
       CAST(sum(CASE WHEN regexp_matches(line_d, '^pdf2ocr\s*-\s*Page\s*\d+$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_self_header_lines,
       CAST(sum(CASE WHEN regexp_matches(line_d, '^[•\-–—▪]')
                       OR regexp_matches(line_d, '^[0-9][.)].')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_list_item_lines,
       count(*) AS n_lines
FROM decorated
GROUP BY doc_id
"""
)


_DIGITS_ONLY = re.compile(r"^[0-9 ]*$")


def _heading_counts(source, text):
    n = hits = 0
    for _page, ln, line in _doc_lines(source, text):
        up = line.upper() if ln == 0 else line
        n += 1
        hits += up == up.upper() and len(up) > 3 and not _DIGITS_ONLY.match(up)
    return hits, n


def q_heading_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading predicate over lines (ref common.py:10-13,76-78): lines with
    line_no 0 are upper-cased by the channel, then detected ALL-CAPS.
    Every grouping key holds doc_id, so no shuffle is needed."""
    return _per_document(
        spark, sf_dir, "doc_id long, n_heading_lines long, n_lines long",
        _heading_counts,
    )


SQL_HEADING_DETECT = (
    _SQL_LINES_CTE
    + r"""
, upl AS (
    SELECT doc_id,
           CASE WHEN line_no = 0 THEN upper(line_text) ELSE line_text END AS line_up
    FROM all_lines
)
SELECT doc_id,
       CAST(sum(CASE WHEN line_up = upper(line_up) AND length(line_up) > 3
                          AND NOT regexp_matches(line_up, '^[0-9 ]*$')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_heading_lines,
       count(*) AS n_lines
FROM upl
GROUP BY doc_id
"""
)


def _boilerplate_counts(source, text):
    occurrences, hit_pages = Counter(), Counter()
    n_pages = 0
    for _page, rows in groupby(_doc_lines(source, text), key=itemgetter(0)):
        lines = [line for _p, _ln, line in rows]  # in line_no order
        occurrences.update(lines)
        hit_pages.update({*lines[:2], *lines[-2:]})
        n_pages += 1
    # float 0.6 is just under 3/5, so 0.6 * n_pages never rounds above a
    # whole threshold: this equals the oracle's exact DECIMAL compare
    boiler = [t for t, h in hit_pages.items() if n_pages >= 3 and h >= 0.6 * n_pages]
    n_kept = sum(occurrences.values()) - sum(occurrences[t] for t in boiler)
    return n_pages, len(boiler), n_kept


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated header/footer strip (ref common.py:116-150): a page's edge
    lines are its first two and last two lines by line_no; a line text is
    boilerplate when it is an edge line on >= 60% of the pages of a
    document with >= 3 pages. Returns per-doc totals (pages, distinct
    boilerplate texts, kept lines). Every grouping key of the spec holds
    doc_id, so the whole computation is one per-document function."""
    return _per_document(
        spark, sf_dir,
        "doc_id long, n_pages long, n_boiler_lines long, n_kept_lines long",
        _boilerplate_counts,
    )


SQL_BOILERPLATE_STRIP = (
    _SQL_LINES_CTE
    + r"""
, edges AS (
    SELECT DISTINCT doc_id, page_id, line_text
    FROM (
        SELECT doc_id, page_id, line_text,
               row_number() OVER (PARTITION BY doc_id, page_id ORDER BY line_no) AS rn_a,
               row_number() OVER (PARTITION BY doc_id, page_id ORDER BY line_no DESC) AS rn_d
        FROM all_lines
    )
    WHERE rn_a <= 2 OR rn_d <= 2
),
npages AS (
    SELECT doc_id, max(page_id) + 1 AS n_pages FROM all_lines GROUP BY doc_id
),
boiler AS (
    SELECT e.doc_id, e.line_text
    FROM (
        SELECT doc_id, line_text, count(DISTINCT page_id) AS n_hit_pages
        FROM edges GROUP BY doc_id, line_text
    ) e
    JOIN npages np ON e.doc_id = np.doc_id
    WHERE np.n_pages >= 3 AND e.n_hit_pages >= 0.6 * np.n_pages
),
kept AS (
    SELECT al.* FROM all_lines al
    ANTI JOIN boiler b ON al.doc_id = b.doc_id AND al.line_text = b.line_text
)
SELECT np.doc_id,
       CAST(np.n_pages AS BIGINT) AS n_pages,
       CAST(coalesce(nb.n_boiler_lines, 0) AS BIGINT) AS n_boiler_lines,
       CAST(coalesce(nk.n_kept_lines, 0) AS BIGINT) AS n_kept_lines
FROM npages np
LEFT JOIN (SELECT doc_id, count(*) AS n_boiler_lines FROM boiler GROUP BY doc_id) nb
       ON np.doc_id = nb.doc_id
LEFT JOIN (SELECT doc_id, count(*) AS n_kept_lines FROM kept GROUP BY doc_id) nk
       ON np.doc_id = nk.doc_id
"""
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate grouping on a normalized key (training-data op):
    3-token prefix as the near-dup blocking key."""
    docs = _documents(spark, sf_dir)
    key = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    return (
        docs.select("doc_id", key.alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


SQL_DEDUP_EXACT = """
SELECT array_to_string(list_slice(string_split(text, ' '), 1, 3), ' ') AS dup_key,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1
HAVING count(*) >= 2
"""


def q_filename_title(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filename -> title projection (ref pdf.py:68 etc.): model each doc's
    'filename' as source_docNNN.pdf and derive the display title."""
    docs = _documents(spark, sf_dir)
    fname = F.concat("source", F.lit("_doc"), F.col("doc_id").cast("string"), F.lit(".pdf"))
    title = F.regexp_replace(
        F.regexp_replace(fname, "\\.pdf$", ""), "_", " "
    )
    return docs.select("doc_id", fname.alias("filename"), title.alias("title"))


SQL_FILENAME_TITLE = r"""
SELECT doc_id,
       source || '_doc' || CAST(doc_id AS VARCHAR) || '.pdf' AS filename,
       regexp_replace(regexp_replace(source || '_doc' || CAST(doc_id AS VARCHAR) || '.pdf',
                      '\.pdf$', ''), '_', ' ', 'g') AS title
FROM documents
"""


def _media_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-derivable synthetic media ref set: one
    ``media://<doc_id>/0`` ref per document with doc_id < 200."""
    return (
        _documents(spark, sf_dir)
        .where(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.concat(
                F.lit("media://"), F.col("doc_id").cast("string"), F.lit("/0")
            ).alias("media_ref"),
        )
    )


#: ``_media_refs`` on the DuckDB side, as the head of a WITH clause
_SQL_MEDIA_REFS = """
WITH refs AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           'media://' || CAST(doc_id AS VARCHAR) || '/0' AS media_ref
    FROM documents WHERE doc_id < 200
),"""


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked multimodal decode stage (operators/media.py): a
    SQL-derivable synthetic ref set (one media ref per doc) is pushed
    through the SAME payload-synthesis + mapInPandas decode stage as the
    channel's media spans, and every output is serialized to scalars the
    oracle can reproduce (feature bytes recovered via round(f*255))."""
    from pdf2ocr_spark.operators.media import decode_media, synthesize_payloads

    feats = decode_media(synthesize_payloads(_media_refs(spark, sf_dir)), fake=True)
    return feats.select(
        "doc_id",
        "media_ref",
        "media_type",
        F.array_join(
            F.transform(
                "feature", lambda x: F.round(x * 255).cast("int").cast("string")
            ),
            ",",
        ).alias("feature_u8"),
        F.coalesce(F.col("thumb_w").cast("string"), F.lit("-")).alias("thumb_w"),
        F.coalesce(F.col("thumb_h").cast("string"), F.lit("-")).alias("thumb_h"),
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked video frame-sampling stage (operators/media.py
    sample_frames): the same SQL-derivable ref set as media_decode,
    filtered to video rows, fanned out 1->N_FRAMES inside the Arrow
    batch at evenly spaced timestamps; the fake frame hash is the
    deterministic md5('frame:<ref>:<k>') both engines compute."""
    from pdf2ocr_spark.operators.media import sample_frames, synthesize_payloads

    return sample_frames(synthesize_payloads(_media_refs(spark, sf_dir)), fake=True)


# mirrors operators/media.py sample_frames: video rows are
# md5('media:'||ref)[0]%3 == 2; duration_ms = md5 byte 5 * 250
# (substr(mh,9,2)); frame ts = (k+1)*duration // (N_FRAMES+1); frame
# hash = first 32 bits of md5('frame:'||ref||':'||k).
SQL_MEDIA_FRAMES = _SQL_MEDIA_REFS + """
seeded AS (
    SELECT doc_id, media_ref, md5('media:' || media_ref) AS mh FROM refs
),
vids AS (
    SELECT doc_id, media_ref,
           CAST('0x' || substr(mh, 9, 2) AS INT) * 250 AS duration_ms
    FROM seeded
    WHERE CAST('0x' || substr(mh, 1, 2) AS INT) % 3 = 2
),
frames AS (
    SELECT doc_id, media_ref, duration_ms,
           unnest(range(4)) AS frame_idx
    FROM vids
)
SELECT doc_id, media_ref,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST((frame_idx + 1) * duration_ms // 5 AS INT) AS frame_ts_ms,
       CAST('0x' || substr(
           md5('frame:' || media_ref || ':' || CAST(frame_idx AS VARCHAR)),
           1, 8) AS BIGINT) AS frame_hash
FROM frames
"""


# mirrors operators/media.py exactly: media_type = md5('media:'||ref)[0]%3,
# n_bytes = 256 + byte1*16 (always a multiple of 16), payload = the
# 'payload:'||ref digest repeated n_bytes/16 times, feature bytes = the
# first 16 bytes of md5(lowercase-hex(payload)); thumbs clamp to 32 except
# audio (NULL -> '-').
SQL_MEDIA_DECODE = _SQL_MEDIA_REFS + """
seeded AS (
    SELECT doc_id, media_ref,
           md5('media:' || media_ref) AS mh,
           md5('payload:' || media_ref) AS ph
    FROM refs
),
typed AS (
    SELECT doc_id, media_ref,
           CAST('0x' || substr(mh, 1, 2) AS INT) % 3 AS t0,
           256 + CAST('0x' || substr(mh, 3, 2) AS INT) * 16 AS n_bytes,
           ph
    FROM seeded
),
feat AS (
    SELECT *, md5(repeat(ph, n_bytes // 16)) AS fh FROM typed
)
SELECT doc_id, media_ref,
       CASE t0 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       array_to_string(
           list_transform(range(16),
               i -> CAST(CAST('0x' || substr(fh, 2 * i + 1, 2) AS INT) AS VARCHAR)),
           ',') AS feature_u8,
       CASE WHEN t0 = 1 THEN '-' ELSE '32' END AS thumb_w,
       CASE WHEN t0 = 1 THEN '-' ELSE '32' END AS thumb_h
FROM feat
"""


# --------------------------------------------------------------------------
# training-data pipeline operators (functions/: dedup, similarity, quality)
# --------------------------------------------------------------------------

def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_documents(spark, sf_dir))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph -> connected components -> per-doc cluster
    assignment + keep-list (the pairs->clusters step of a production
    dedup run); iterative min-label propagation, oracle = recursive
    transitive-closure CTE."""
    from pdf2ocr_spark.functions.dedup import dedup_cluster_assignments

    return dedup_cluster_assignments(_documents(spark, sf_dir))


def q_dedup_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST step of the dedup pipeline, applied: the corpus with
    cluster non-keepers REMOVED — pairs -> clusters -> keep-list ->
    anti-join, the relation every downstream training stage actually
    consumes. Plan: the cluster assignment's non-keeper projection is
    tiny relative to the corpus, so the anti-join broadcasts at real
    scale (AQE decides from stats); the corpus side is a narrow
    projection, never shuffled."""
    from pdf2ocr_spark.functions.dedup import dedup_cluster_assignments

    docs = _documents(spark, sf_dir)
    drop = (
        dedup_cluster_assignments(docs)
        .where(~F.col("is_keeper"))
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


def _dedup_applied_sql() -> str:
    from pdf2ocr_spark.functions.dedup_sql import SQL_DEDUP_CLUSTERS

    return f"""
WITH clusters AS ({SQL_DEDUP_CLUSTERS})
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE NOT is_keeper)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_documents(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.dedup import simhash_pairs

    return simhash_pairs(_documents(spark, sf_dir))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.similarity import cosine_topk

    return cosine_topk(_embeddings(spark, sf_dir))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.similarity import ann_lsh_topk

    return ann_lsh_topk(_embeddings(spark, sf_dir))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_embeddings(spark, sf_dir))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.similarity import ivf_topk

    return ivf_topk(_embeddings(spark, sf_dir))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.quality import lang_id

    # fan out: the docs parquet is one row group -> one scan split;
    # the stopword-filter HOFs would otherwise run single-threaded
    return lang_id(_fan_out(_documents(spark, sf_dir)))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.quality import quality_score

    return quality_score(_fan_out(_documents(spark, sf_dir)))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf2ocr_spark.functions.quality import fingerprint

    return fingerprint(_fan_out(_documents(spark, sf_dir)))


# reference epub.py:11-27 Tesseract->Calibre language map (the EPUB sink's
# only observable computation besides the Calibre subprocess); our corpus
# stores Calibre-style codes, so the query derives the OCR (Tesseract)
# code by reverse lookup (first match in reference dict order) and maps it
# forward again — epub.py:86 defaults unknown codes to English. The table
# itself lives in config.py (it doubles as the --lang allowlist).
from pdf2ocr_spark.config import TESS_TO_CALIBRE  # noqa: E402


def q_epub_lang_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _documents(spark, sf_dir)
    rev = None
    for tess, cal in TESS_TO_CALIBRE:
        branch = F.when(F.col("lang") == cal, F.lit(tess))
        rev = branch if rev is None else rev.when(F.col("lang") == cal, F.lit(tess))
    tess_lang = rev.otherwise(F.lit("eng"))
    fwd = None
    for tess, cal in TESS_TO_CALIBRE:
        fwd = (
            F.when(tess_lang == tess, F.lit(cal))
            if fwd is None
            else fwd.when(tess_lang == tess, F.lit(cal))
        )
    return docs.select(
        "doc_id",
        "lang",
        tess_lang.alias("tesseract_lang"),
        fwd.otherwise(F.lit("en")).alias("calibre_lang"),
    )


def _epub_sql() -> str:
    rev = "CASE " + " ".join(
        f"WHEN lang = '{cal}' THEN '{tess}'" for tess, cal in TESS_TO_CALIBRE
    ) + " ELSE 'eng' END"
    fwd = "CASE " + " ".join(
        f"WHEN ({rev}) = '{tess}' THEN '{cal}'" for tess, cal in TESS_TO_CALIBRE
    ) + " ELSE 'en' END"
    return f"""
SELECT doc_id, lang,
       {rev} AS tesseract_lang,
       {fwd} AS calibre_lang
FROM documents
"""


# --------------------------------------------------------------------------
# relational engine demos over the TPC-H-ish tables (scan->filter->agg and
# join->agg->top-k through Catalyst; fixed-point money per quality.py:bp)
# --------------------------------------------------------------------------

def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem."""
    li = _table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.floor(F.sum("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("sum_base_cents"),
        F.floor(F.sum(disc_price) * 100 + F.lit(0.5)).cast("long").alias("sum_disc_cents"),
        F.floor(F.sum(charge) * 100 + F.lit(0.5)).cast("long").alias("sum_charge_cents"),
        F.count("*").alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       CAST(floor(sum(l_extendedprice) * 100 + 0.5) AS BIGINT) AS sum_base_cents,
       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT) AS sum_disc_cents,
       CAST(floor(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) AS BIGINT) AS sum_charge_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top-20 orders by discounted revenue for one market
    segment — broadcast dim join + agg + deterministic top-k."""
    cust = _table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _table(spark, sf_dir, "orders")
    li = _table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.floor(F.sum(rev) * 100 + F.lit(0.5)).cast("long").alias("revenue_cents"))
    )
    return (
        joined.orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


SQL_TOP_REVENUE = """
SELECT o_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       o_orderpriority,
       CAST(floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, o_orderkey ASC
LIMIT 20
"""


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (1-day
    windows per event_type) — the batch formulation of the streaming
    windowed agg in streaming/windows.py (same F.window expression)."""
    ev = _table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.floor(F.sum("value") * 10000 + F.lit(0.5)).cast("long").alias("sum_value_bp"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value_bp",
            "n_users",
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT strftime(CAST(date_trunc('day', ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(floor(sum(value) * 10000 + 0.5) AS BIGINT) AS sum_value_bp,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


#: PII patterns, RE2- and Java-regex compatible (no lookaround; DuckDB
#: needs the 'g' flag to replace all — Spark replaces all by default)
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_URL = r"https?://[^ ]+"
_PII_PHONE = r"\b555-[0-9]{4}\b"


def _pii_seeded_col() -> "F.Column":
    """text with the deterministic per-doc PII seed appended (shared by
    q_pii_scrub and the fused corpus_clean)."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), did,
        F.lit("@example.com via https://ex.org/d/"), did,
        F.lit(" or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )


def _pii_scrubbed_col(seeded: "F.Column") -> "F.Column":
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(seeded, _PII_EMAIL, "<EMAIL>"),
            _PII_URL, "<URL>",
        ),
        _PII_PHONE, "<PHONE>",
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data pipeline tier): count + redact
    emails / URLs / phone-shaped tokens from document text. The corpus
    is synthetic and PII-free, so each doc is seeded with one
    deterministic instance of each PII kind (derived from doc_id) before
    scrubbing — the operator's effect is provable per row, not vacuous.
    Pure JVM-side regexp expressions: codegen'd, scales as a map stage
    (fanned out — the single-row-group scan split would otherwise run
    all six regex passes on one core)."""
    docs = _fan_out(_documents(spark, sf_dir))
    seeded = _pii_seeded_col()

    def _count(col, pat):
        return F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast("long")

    scrubbed = _pii_scrubbed_col(seeded)
    return docs.select(
        "doc_id",
        _count(seeded, _PII_EMAIL).alias("n_emails"),
        _count(seeded, _PII_URL).alias("n_urls"),
        _count(seeded, _PII_PHONE).alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


SQL_PII_SCRUB = f"""
WITH seeded AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com via https://ex.org/d/' || CAST(doc_id AS VARCHAR)
                || ' or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{_PII_URL}')) AS n_urls,
       len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
       regexp_replace(regexp_replace(regexp_replace(text,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_URL}', '<URL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g') AS scrubbed
FROM seeded
"""


#: context-window packing: token window / stride (overlap = CHUNK_W - CHUNK_S).
#: Sized to the synthetic corpus (docs are 10-100 tokens) so typical docs
#: split into 2-4 overlapping windows; a real pretraining run would use
#: e.g. 2048/1920 — the plan shape is identical.
CHUNK_W = 32
CHUNK_S = 25


def chunk_windows(df: DataFrame, text: "F.Column", keep: list) -> DataFrame:
    """Context-window packing: one row per CHUNK_W-token window of
    ``text`` (stride CHUNK_S, so consecutive windows overlap by
    CHUNK_W - CHUNK_S tokens), carrying the ``keep`` columns. Pure JVM
    array ops (sequence/explode/slice): one narrow explode whose fan-out
    is len/stride per row, no shuffle, stream-safe. The text is split
    once per row, before the explode."""
    toks = df.select(*keep, F.split(text, " ").alias("toks"))
    n = F.size("toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_S))
    with_starts = toks.select(*keep, "toks", F.explode(starts).alias("start"))
    chunk = F.slice("toks", F.col("start") + 1, CHUNK_W)
    return with_starts.select(
        *keep,
        (F.col("start") / CHUNK_S).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: split each document into overlapping
    token windows (chunk_windows) — the context-window packing step an
    LLM-pretraining pipeline runs after cleaning/dedup. Fanned out over
    the session's parallelism (single-row-group scan), then a map stage
    end to end."""
    docs = _fan_out(_documents(spark, sf_dir))
    return chunk_windows(docs, F.col("text"), ["doc_id"])


SQL_DOC_CHUNKS = f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
st AS (
    SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_S})) AS start
    FROM tok
)
SELECT doc_id,
       CAST(start // {CHUNK_S} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + {CHUNK_W})) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {CHUNK_W}), ' ') AS chunk_text
FROM st
"""


#: line-dedup segmentation: fixed non-overlapping token windows
LINE_TOKS = 15


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level exact dedup: segment every document into
    deterministic 15-token lines, keep only the corpus-wide FIRST
    occurrence of each exact line (ordered by (doc_id, line_no)), and
    report per-doc survival. Catches the partial-overlap duplication
    document-level dedup misses (boilerplate lines, syndicated
    paragraphs). The keeper rule is an order-free min over the
    (doc_id, line_no) struct, so the result is rerun-stable on any
    partitioning and exact for documents of any line count.

    Scale shape at 10^12 docs: ONE shuffle keyed on the line (at
    production scale on xxhash64(line) — same plan, narrower rows) with
    map-side partial min. The keeper's owning document is the min
    struct's doc_id (exactly one instance attains the min), so per-doc
    survivor counts aggregate the SMALL keeper relation directly and the
    per-doc line totals are a per-row expression — no join back to the
    exploded line relation. The token array is materialized once per
    document before the line transform: referenced inline, the split
    is re-evaluated for every line, quadratic in the document's length."""
    docs = _fan_out(_documents(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    toks = F.col("toks")
    last_line = F.floor((F.size(toks) - 1) / LINE_TOKS)
    lines = F.transform(
        F.sequence(F.lit(0), last_line.cast("int")),
        lambda i: F.array_join(F.slice(toks, i * LINE_TOKS + 1, LINE_TOKS), " "),
    )
    l = docs.select("doc_id", F.posexplode(lines).alias("line_no", "line"))
    keepers = l.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("keep")
    )
    kept_per_doc = keepers.groupBy(F.col("keep.doc_id").alias("doc_id")).agg(
        F.count("*").alias("n_kept")
    )
    totals = docs.select("doc_id", (last_line.cast("long") + 1).alias("n_lines"))
    return (
        totals.join(kept_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.expr(
                "(20000 * coalesce(n_kept, 0L) + n_lines) div (2 * n_lines)"
            )
            .cast("long")
            .alias("kept_bp"),
        )
    )


SQL_LINE_DEDUP = f"""
WITH tok AS (
    SELECT doc_id,
           generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
           unnest(string_split(text, ' ')) AS tok
    FROM documents
),
l AS (
    SELECT doc_id, pos // {LINE_TOKS} AS line_no,
           string_agg(tok, ' ' ORDER BY pos) AS line
    FROM tok
    GROUP BY doc_id, line_no
),
ranked AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1
               AS kept
    FROM l
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
       CAST((20000 * count(*) FILTER (kept) + count(*))
            // (2 * count(*)) AS BIGINT) AS kept_bp
FROM ranked
GROUP BY doc_id
"""


#: train/val/test hash-split boundaries in bp of 10000
SPLIT_VAL_LO, SPLIT_TEST_LO = 9800, 9900

#: per-source mixture: source -> (epochs, keep_bp); the default row.
#: High-quality sources replicate (multiple epochs), noisy ones
#: down-sample — the standard pretraining-mix shape.
MIXTURE = {"src0": (2, 10000), "src1": (2, 10000), "src19": (1, 2000)}
MIXTURE_DEFAULT = (1, 5000)


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (98/1/1) by document hash —
    the reproducible alternative to rand(): a resumed 10^12-doc job
    assigns every doc to the SAME split, and membership is a pure
    codegen projection (zero shuffle, survives repartitioning)."""
    from pdf2ocr_spark.functions.dedup import base_hash

    docs = _documents(spark, sf_dir)
    bucket = (
        base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":split")))
        % 10000
    )
    return docs.select(
        "doc_id",
        bucket.cast("long").alias("split_bucket"),
        F.when(bucket < SPLIT_VAL_LO, "train")
        .when(bucket < SPLIT_TEST_LO, "val")
        .otherwise("test")
        .alias("split"),
    )


SQL_CORPUS_SPLIT = f"""
WITH b AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)
                AS BIGINT) % 10000 AS split_bucket
    FROM documents
)
SELECT doc_id, split_bucket,
       CASE WHEN split_bucket < {SPLIT_VAL_LO} THEN 'train'
            WHEN split_bucket < {SPLIT_TEST_LO} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted training mixture: per source, keep a hash quota
    of documents AND replicate kept docs for the source's epoch count
    (the pretraining-mix op — high-quality sources run multiple epochs,
    noisy ones down-sample). Deterministic: the same doc is kept, with
    the same epoch rows, on any rerun/partitioning. The epoch fan-out
    is a bounded explode fused with the scan; the quota filter is pure
    codegen — zero shuffle end to end."""
    from pdf2ocr_spark.functions.dedup import base_hash

    docs = _documents(spark, sf_dir)
    bucket = (
        base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":mix")))
        % 10000
    )
    epochs = F.lit(MIXTURE_DEFAULT[0])
    keep = F.lit(MIXTURE_DEFAULT[1])
    for src, (ep, bp) in sorted(MIXTURE.items()):
        epochs = F.when(F.col("source") == src, F.lit(ep)).otherwise(epochs)
        keep = F.when(F.col("source") == src, F.lit(bp)).otherwise(keep)
    return (
        docs.select(
            "doc_id", "source", bucket.cast("long").alias("mix_bucket"),
            epochs.alias("_ep"), keep.alias("_keep"),
        )
        .where(F.col("mix_bucket") < F.col("_keep"))
        .select(
            "doc_id", "source", "mix_bucket",
            F.explode(F.sequence(F.lit(1), F.col("_ep"))).alias("epoch_no"),
        )
        .select(
            "doc_id", "source", "mix_bucket",
            F.col("epoch_no").cast("long").alias("epoch_no"),
        )
    )


def _mixture_sql() -> str:
    cases_ep = " ".join(
        f"WHEN source = '{s}' THEN {ep}" for s, (ep, _bp) in sorted(MIXTURE.items())
    )
    cases_bp = " ".join(
        f"WHEN source = '{s}' THEN {bp}" for s, (_ep, bp) in sorted(MIXTURE.items())
    )
    return f"""
WITH b AS (
    SELECT doc_id, source,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)
                AS BIGINT) % 10000 AS mix_bucket,
           CASE {cases_ep} ELSE {MIXTURE_DEFAULT[0]} END AS ep,
           CASE {cases_bp} ELSE {MIXTURE_DEFAULT[1]} END AS keep
    FROM documents
)
SELECT doc_id, source, mix_bucket, CAST(e AS BIGINT) AS epoch_no
FROM b, unnest(range(1, ep + 1)) AS t(e)
WHERE mix_bucket < keep
"""


#: decontamination n-gram order and the benchmark-slice modulus
DECONTAM_N = 8
DECONTAM_MOD = 53
DECONTAM_PREFIX_TOKS = 16


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap detection (the GPT-3-style decontamination
    pass a pretraining pipeline runs before training): flag every
    training document sharing at least one 8-gram with the benchmark
    set. The benchmark set is derived deterministically — the first 16
    tokens of every (doc_id % 53 == 0) document — so overlap exists by
    construction for the source docs and their exact duplicates, and
    both engines build the identical eval set.

    Scale shape at 10^12 docs: the benchmark gram set is the SMALL side
    (distinct grams of the eval suite — thousands of docs, not
    trillions) and broadcasts; the training-side gram explode is a pure
    map stage fused with the scan (fan-out = tokens per doc); the only
    shuffle is the per-doc overlap count, pre-aggregated map-side. At
    production scale the join key would be xxhash64(gram) instead of
    the gram string — same plan, narrower shuffle."""
    # fan out: the docs parquet is one row group -> one scan split; the
    # training-side Arrow gram kernel would otherwise run on ONE core
    docs = _fan_out(_documents(spark, sf_dir))
    toks = F.split("text", " ")

    # gram construction is a VECTORIZED Arrow kernel, not nested
    # Catalyst HOFs: transform+array_join+slice lambdas run INTERPRETED
    # per element (perf landmine #9 — measured 96.8 s at sf0.1 vs
    # ~1 s kernelized), and referencing the expression twice (size +
    # explode) re-inlines the whole tree via CollapseProject
    from pdf2ocr_spark.functions.decontam import counted_ngrams_udf

    # counted grams: one explode yields gram AND per-doc total, so the
    # kernel evaluates exactly once on the training side (size() +
    # explode() of one UDF column would each get their own
    # ArrowEvalPython node); the benchmark side keeps only the gram
    grams = counted_ngrams_udf(DECONTAM_N)
    bench_grams = (
        docs.where(F.col("doc_id") % DECONTAM_MOD == 0)
        .select(F.explode(grams(F.slice(toks, 1, DECONTAM_PREFIX_TOKS))).alias("x"))
        .select(F.col("x.g").alias("g"))
        .distinct()
    )
    train_grams = docs.select(
        "doc_id", F.explode(grams(toks)).alias("x")
    ).select(
        "doc_id", F.col("x.n").alias("n_grams"), F.col("x.g").alias("g")
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").alias("n_shared"))
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr("(20000 * n_shared + n_grams) div (2 * n_grams)")
            .cast("long")
            .alias("shared_bp"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
bench_grams AS (
    SELECT DISTINCT list_aggr(toks[i + 1 : i + {DECONTAM_N}], 'string_agg', ' ') AS g
    FROM (SELECT doc_id, toks[1:{DECONTAM_PREFIX_TOKS}] AS toks FROM tok
          WHERE doc_id % {DECONTAM_MOD} = 0),
         unnest(range(0, greatest(len(toks) - {DECONTAM_N} + 1, 0))) AS u(i)
),
train_grams AS (
    SELECT doc_id, g, n_grams FROM (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(toks) - {DECONTAM_N} + 1, 0)),
                   i -> list_aggr(toks[i + 1 : i + {DECONTAM_N}], 'string_agg', ' ')
               )) AS gl
        FROM tok
    ), unnest(gl) AS t(g), lateral (SELECT len(gl) AS n_grams)
)
SELECT t.doc_id,
       CAST(t.n_grams AS BIGINT) AS n_grams,
       CAST(count(*) AS BIGINT) AS n_shared,
       CAST((20000 * count(*) + t.n_grams) // (2 * t.n_grams) AS BIGINT)
           AS shared_bp
FROM train_grams t JOIN bench_grams b ON t.g = b.g
GROUP BY t.doc_id, t.n_grams
"""


def q_decontaminate_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination DECISION applied to the corpus (the relation
    training actually consumes — same closing move as dedup_applied):
    every training document with NO benchmark 8-gram overlap, as
    (doc_id, n_chars). The contaminated set is tiny by construction, so
    the anti-join broadcasts at scale; AQE decides here."""
    docs = _documents(spark, sf_dir)
    contaminated = q_decontaminate(spark, sf_dir).select("doc_id")
    return (
        docs.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
    )


def _decontaminate_applied_sql() -> str:
    return f"""
WITH det AS ({SQL_DECONTAMINATE})
SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
ANTI JOIN det ON d.doc_id = det.doc_id
"""


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p95/p99 of value per event_type)
    — the monitoring rollup every event pipeline ships. Spark's exact
    ``percentile`` aggregate and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition (pos = p*(n-1)), so integer-bp
    outputs hash-match. One shuffle on a 5-key group; at 10^12 events
    the exact sort-based aggregate would be swapped for
    approx_percentile at the same call site — the exact form is the
    oracle-checkable contract."""
    ev = _table(spark, sf_dir, "events")
    bp = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa: E731
    pct = F.percentile("value", F.lit([0.5, 0.95, 0.99]))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            bp(F.col("p")[0]).alias("p50_bp"),
            bp(F.col("p")[1]).alias("p95_bp"),
            bp(F.col("p")[2]).alias("p99_bp"),
        )
    )


SQL_EVENTS_PERCENTILES = """
SELECT event_type,
       CAST(floor(quantile_cont(value, 0.5) * 10000 + 0.5) AS BIGINT) AS p50_bp,
       CAST(floor(quantile_cont(value, 0.95) * 10000 + 0.5) AS BIGINT) AS p95_bp,
       CAST(floor(quantile_cont(value, 0.99) * 10000 + 0.5) AS BIGINT) AS p99_bp
FROM events GROUP BY event_type
"""


def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over a TRAINED coarse quantizer: KMEANS_TRAIN_ITERS
    rounds of the distributed spherical k-means
    (functions/similarity.kmeans_train — integer-fixed-point sums, so
    the trained centroids are rerun-stable on any partitioning), then
    the same ivf_topk probe path. Fully oracle-checked: the Lloyd loop
    is a driver iteration in Spark but UNROLLS into per-round CTEs in
    DuckDB (similarity_sql.sql_ivf_trained), bit-identical because both
    engines fold sequentially in double precision over integer
    micro-unit state."""
    from pdf2ocr_spark.functions.similarity import (
        KMEANS_TRAIN_ITERS,
        ivf_topk,
        kmeans_train,
    )

    emb = _embeddings(spark, sf_dir)
    cents, _hist = kmeans_train(emb, iters=KMEANS_TRAIN_ITERS)
    return ivf_topk(emb, centroids=cents)


def q_ivf_recall_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does TRAINING the quantizer actually help? Recall of the trained
    IVF top-k and the untrained (first-K-centroids) IVF top-k against
    the exact cosine top-k, as one two-row relation. The recall join is
    the bounded semi-join shape of similarity_ann_recall; recall_bp is
    the order-free integer round-half-up ``(20000*h + n) div (2*n)``.
    test_similarity_quality pins trained >= untrained on the driver
    corpus."""
    from pdf2ocr_spark.functions.similarity import (
        KMEANS_TRAIN_ITERS,
        ivf_topk,
        kmeans_train,
    )

    emb = _embeddings(spark, sf_dir)
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    cents, _hist = kmeans_train(emb, iters=KMEANS_TRAIN_ITERS)

    def one(ann: DataFrame, label: str) -> DataFrame:
        hits = (
            exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count("*").alias("n_hits"))
        )
        totals = exact.agg(F.count("*").alias("n_exact"))
        # crossJoin of two single-row aggregates (bounded, same move as
        # the doc_tfidf corpus-size constant)
        return hits.crossJoin(totals).select(
            F.lit(label).alias("variant"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.expr("(20000 * n_hits + n_exact) div (2 * n_exact)")
            .cast("long")
            .alias("recall_bp"),
        )

    trained = ivf_topk(emb, centroids=cents).select("query_id", "neighbor_id")
    untrained = ivf_topk(emb).select("query_id", "neighbor_id")
    return one(trained, "ivf_trained").unionByName(one(untrained, "ivf_first_k"))


def _ivf_recall_gain_sql() -> str:
    from pdf2ocr_spark.functions.similarity import KMEANS_TRAIN_ITERS
    from pdf2ocr_spark.functions.similarity_sql import (
        SQL_COSINE_TOPK,
        SQL_IVF_TOPK,
        sql_ivf_trained,
    )

    return f"""
WITH exact AS ({SQL_COSINE_TOPK}),
trained AS ({sql_ivf_trained(KMEANS_TRAIN_ITERS)}),
untrained AS ({SQL_IVF_TOPK}),
ex AS (SELECT count(*) AS n_exact FROM exact),
th AS (SELECT count(*) AS n_hits
       FROM exact e JOIN trained t USING (query_id, neighbor_id)),
uh AS (SELECT count(*) AS n_hits
       FROM exact e JOIN untrained u USING (query_id, neighbor_id))
SELECT 'ivf_trained' AS variant, CAST(th.n_hits AS BIGINT) AS n_hits,
       CAST(ex.n_exact AS BIGINT) AS n_exact,
       CAST((20000 * th.n_hits + ex.n_exact) // (2 * ex.n_exact) AS BIGINT)
           AS recall_bp
FROM th, ex
UNION ALL
SELECT 'ivf_first_k', CAST(uh.n_hits AS BIGINT),
       CAST(ex.n_exact AS BIGINT),
       CAST((20000 * uh.n_hits + ex.n_exact) // (2 * ex.n_exact) AS BIGINT)
FROM uh, ex
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall of the LSH top-k against the exact
    cosine top-k, per query point (basis points for hash-stable
    comparison). The evaluation itself is distributed: a semi-join of
    the two top-k relations on (query_id, neighbor_id) + one small
    aggregation — both sides are bounded by N_QUERIES * k rows."""
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ann = q_ann_lsh_topk(spark, sf_dir).select("query_id", "neighbor_id")
    totals = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        totals.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.floor(
                F.coalesce("n_hits", F.lit(0)) * 10000.0 / F.col("n_exact")
                + F.lit(0.5)
            ).cast("long").alias("recall_bp"),
        )
    )


def _ann_recall_sql() -> str:
    from pdf2ocr_spark.functions.similarity_sql import (
        SQL_ANN_LSH_TOPK,
        SQL_COSINE_TOPK,
    )

    return f"""
WITH exact AS ({SQL_COSINE_TOPK}),
ann AS ({SQL_ANN_LSH_TOPK}),
totals AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM exact e JOIN ann a USING (query_id, neighbor_id)
    GROUP BY e.query_id
)
SELECT t.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(floor(coalesce(h.n_hits, 0) * 10000.0 / t.n_exact + 0.5) AS BIGINT)
           AS recall_bp
FROM totals t LEFT JOIN hits h ON t.query_id = h.query_id
"""


#: per-language sampling rates in basis points (en downsampled — the
#: majority stratum in every web corpus; everything else kept at 50%)
_SAMPLE_RATES_BP = {"en": 2000}
_SAMPLE_DEFAULT_BP = 5000
VOCAB_TOP_K = 100


def _sample_bucket() -> "F.Column":
    """The document's sampling bucket in [0, 10000): hash(doc_id:sample)."""
    from pdf2ocr_spark.functions.dedup import base_hash

    return base_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))) % 10000


def _sample_rate() -> "F.Column":
    """The document's language-stratum quota, in basis points."""
    rate = F.lit(_SAMPLE_DEFAULT_BP)
    for lang, bp in sorted(_SAMPLE_RATES_BP.items()):
        rate = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(rate)
    return rate


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-data pipeline tier):
    keep each document iff hash(doc_id) falls under its language
    stratum's quota — the reproducible, rerun-stable alternative to
    rand()-based sampling (a resumed 10^12-doc job must sample the SAME
    docs). Pure codegen filter, zero shuffle, trivially partitionable."""
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id", "lang", _sample_bucket().cast("long").alias("sample_bucket")
    ).where(F.col("sample_bucket") < _sample_rate())


SQL_SAMPLE_STRATIFIED = f"""
WITH b AS (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 8)
                AS BIGINT) % 10000 AS sample_bucket
    FROM documents
)
SELECT doc_id, lang, sample_bucket
FROM b
WHERE sample_bucket < (CASE WHEN lang = 'en' THEN {_SAMPLE_RATES_BP["en"]}
                            ELSE {_SAMPLE_DEFAULT_BP} END)
"""


#: Zipf-vocabulary enrichment cap (distinct suffix ranks per base token).
#: The driver corpus carries only ~31 distinct tokens, which makes every
#: df-dependent behavior (top-K vocabulary, idf spread) degenerate
#: (round-3 verdict #4). The driver table itself is fixed, so the richer
#: vocabulary is a deterministic DERIVED relation both engines compute
#: identically (no external data): token t at 0-based position i of doc d
#: becomes  t_r  with  r = min(V, 2^32 // (h+1)),
#: h = int(md5(d:i:t)[:8], 16) — an integer-exact Zipf-ish rank
#: (P(r) ~ 1/r^2), so the derived corpus has a few thousand types with a
#: realistic df spectrum: head ranks appear in every document, tail
#: ranks are near-hapax. Integer-only arithmetic end-to-end — a float
#: pow()/log() sampler could flip a rounding boundary between engines.
#: NOT applied to the dedup family: their signal is the seeded near-dup
#: pairs (mutant = copy under doc_id+10^7), and a doc_id-keyed suffix
#: would give every mutant token a different suffix, erasing exactly the
#: similarity the operators exist to detect.
VOCAB_ZIPF_V = 4096


def _enriched_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) stream of the Zipf-enriched derivation (see
    VOCAB_ZIPF_V), the form the vocabulary/tf-idf consumers need. The
    raw docs fan out first and ``posexplode`` flattens the token stream,
    so the md5 + integer-rank math compiles to whole-stage codegen over
    flat rows (inside an array ``transform`` lambda it would run
    interpreted per element, on the single scan split)."""
    docs = _fan_out(_documents(spark, sf_dir).select("doc_id", "text"))
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t")
    )
    two32 = F.lit(4294967296).cast("long")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                    F.col("t"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") + F.lit(1).cast("long")
    # exact integer floor(2^32 / h) in pure codegen: subtracting the mod
    # first makes the double division exact (a bare float divide can round
    # across an integer boundary and diverge from the oracle's `//`)
    rank = ((two32 - F.pmod(two32, h)) / h).cast("long")
    return tok.select(
        "doc_id",
        F.concat_ws(
            "_",
            F.col("t"),
            F.least(F.lit(VOCAB_ZIPF_V).cast("long"), rank).cast("string"),
        ).alias("token"),
    )


#: The enriched documents on the DuckDB side — WITH-clause body (no leading
#: WITH) so consumers can prepend it to their own CTE chains. Multiple
#: unnests in one SELECT zip positionally in DuckDB; string_agg ORDER BY
#: pos rebuilds the text in token order.
SQL_ENRICHED_DOCS_CTE = f"""
enr_tok AS (
    SELECT doc_id, lang, source, n_chars,
           unnest(l) AS t, unnest(range(len(l))) AS pos
    FROM (SELECT doc_id, lang, source, n_chars,
                 string_split(text, ' ') AS l
          FROM documents)
),
enriched_documents AS (
    SELECT doc_id, lang, source, n_chars,
           string_agg(
               t || '_' || CAST(least({VOCAB_ZIPF_V},
                   4294967296 // (CAST('0x' || substr(md5(
                       CAST(doc_id AS VARCHAR) || ':' ||
                       CAST(pos AS VARCHAR) || ':' || t
                   ), 1, 8) AS BIGINT) + 1)) AS VARCHAR),
               ' ' ORDER BY pos) AS text
    FROM enr_tok
    GROUP BY doc_id, lang, source, n_chars
)
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table over the Zipf-enriched derivation: top-K
    tokens by document frequency with total term frequency. Two-level
    aggregation — per-(doc, token) counts first, then per-token rollup —
    so both shuffles move pre-combined partials (a countDistinct over
    raw tokens would expand instead); the deterministic (df, tf, token)
    ordering + LIMIT compiles to TakeOrderedAndProject, which keeps only
    K rows per partition before the final merge — no global sort at
    10^12 docs."""
    tok = _enriched_tokens(spark, sf_dir)
    per_doc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("cnt"))
    return (
        per_doc.groupBy("token")
        .agg(F.count("*").alias("df"), F.sum("cnt").alias("tf"))
        .orderBy(F.desc("df"), F.desc("tf"), F.asc("token"))
        .limit(VOCAB_TOP_K)
    )


SQL_VOCAB_STATS = f"""
WITH {SQL_ENRICHED_DOCS_CTE},
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM enriched_documents
),
per_doc AS (
    SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token
)
SELECT token, count(*) AS df, CAST(sum(cnt) AS BIGINT) AS tf
FROM per_doc
GROUP BY token
ORDER BY df DESC, tf DESC, token ASC
LIMIT {VOCAB_TOP_K}
"""


TFIDF_TOP_K = 3


def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document distinctive terms over the Zipf-enriched derivation
    (see VOCAB_ZIPF_V — the raw corpus's ~31 types gave a flat idf):
    top-K tokens by a tf-idf-style
    score. The idf is the RATIONAL (N * 10000) div df rather than
    ln(N/df): integer arithmetic is bit-identical across engines, while
    libm log implementations can disagree in the last ulp and flip a
    rounding boundary (monotone in N/df, so the ranking is the same).
    Plan: two-level token aggregation (partials only), the tiny df
    relation joins back by token (hash join; broadcastable when the
    vocabulary is capped), corpus size N arrives via a broadcast
    single-row aggregate, and rank<=K compiles to WindowGroupLimit —
    per-partition top-K, no global sort."""
    from pyspark.sql.window import Window

    tok = _enriched_tokens(spark, sf_dir)
    per_doc = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfrel = per_doc.groupBy("token").agg(F.count("*").alias("df"))
    n = _documents(spark, sf_dir).agg(F.count("*").alias("n_docs"))
    scored = (
        per_doc.join(dfrel, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            (F.col("tf") * F.expr("(n_docs * 10000L) div df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "score", F.col("rank").cast("long").alias("rank"))
    )


SQL_DOC_TFIDF = f"""
WITH {SQL_ENRICHED_DOCS_CTE},
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token
    FROM enriched_documents
),
per_doc AS (
    SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
),
dfrel AS (SELECT token, count(*) AS df FROM per_doc GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT per_doc.doc_id, per_doc.token, per_doc.tf,
           per_doc.tf * ((n.n_docs * 10000) // dfrel.df) AS score
    FROM per_doc JOIN dfrel USING (token), n
),
ranked AS (
    SELECT doc_id, token, tf, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, token ASC) AS rank
    FROM scored
)
SELECT doc_id, token, tf, CAST(score AS BIGINT) AS score,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


#: corpus_clean quality gate (bp); ~P25 of the synthetic corpus, so the
#: filter provably drops and keeps documents
CLEAN_MIN_QUALITY_BP = 3500


def _floor_bp(num: "F.Column", den: "F.Column") -> "F.Column":
    """Exact integer floor(num * 10000 / den): the mod is subtracted
    first, so the double division cannot round across an integer."""
    scaled = num * 10000
    return ((scaled - F.pmod(scaled, den)) / den).cast("long")


def clean_gates(docs: DataFrame) -> DataFrame:
    """The per-document clean gates, on a static OR streaming documents
    relation: adds ``quality_bp`` (functions/quality.quality_bp_expr)
    and keeps documents with quality_bp >= CLEAN_MIN_QUALITY_BP that
    pass the quality_repetition gate (dup-word and top-bigram mass within
    DUP_WORD_MAX_BP / TOP_BIGRAM_MAX_BP).

    Both gates are row-local expressions — quality as a projection, not
    a quality_score-then-join (a stream-stream self-join on a stream, a
    second scan in batch); top-bigram mass as the longest run of the
    sorted bigram array under F.aggregate (no explode, no agg). In batch
    the filters are pinned above the caller's fan-out exchange with
    _no_push; streaming rejects its nondeterministic disjunct, and a
    stream has no single-split scan to protect."""
    toks = F.split("text", " ")
    n_words = F.size(toks)
    dup_bp = _floor_bp(n_words - F.size(F.array_distinct(toks)), n_words)
    grams = F.when(
        n_words >= 2,
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), n_words - 2),
                lambda i: F.array_join(F.slice(toks, i + 1, 2), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(one)
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_gram = F.aggregate(
        grams,
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        step,
        lambda acc: acc["best"],
    )
    top_bp = F.when(
        F.size(grams) > 0, _floor_bp(top_gram, F.size(grams))
    ).otherwise(zero)
    pin = (lambda cond: cond) if docs.isStreaming else _no_push
    return (
        docs.withColumn("quality_bp", quality_bp_expr())
        .where(pin(F.col("quality_bp") >= CLEAN_MIN_QUALITY_BP))
        .where(pin((dup_bp <= DUP_WORD_MAX_BP) & (top_bp <= TOP_BIGRAM_MAX_BP)))
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data pipeline in one statement, composed from
    the registered building blocks: stratified sample (deterministic
    per-language quota) -> quality gate (composite score >= threshold)
    -> repetition gate (Gopher dup-word / top-bigram filters)
    -> PII scrub -> context-window chunking of the scrubbed text.
    Output = the chunk relation a pretraining run would tokenize.

    Every stage is a function of one document row, so the pipeline is
    ONE narrow pass: the cheap sample-hash filter sits at the scan
    (prunes ~96% before anything moves), the survivors fan out once,
    and the gates, scrub and chunking run above that single exchange.
    clean_gates pins its filters there: without the pin, predicate
    pushdown inlines the quality/repetition expression trees into the
    single-row-group scan and evaluates them on one core."""
    sampled = _fan_out(
        _documents(spark, sf_dir).where(_sample_bucket() < _sample_rate())
    )
    return chunk_windows(
        clean_gates(sampled),
        _pii_scrubbed_col(_pii_seeded_col()),
        ["doc_id", "lang", "quality_bp"],
    )


def _corpus_clean_sql() -> str:
    from pdf2ocr_spark.functions.similarity_sql import SQL_QUALITY_SCORE

    return f"""
WITH sampled AS ({SQL_SAMPLE_STRATIFIED}),
quality AS ({SQL_QUALITY_SCORE}),
rep AS ({SQL_QUALITY_REPETITION}),
scrub AS ({SQL_PII_SCRUB}),
base AS (
    SELECT s.doc_id, s.lang, q.quality_bp, c.scrubbed
    FROM sampled s
    JOIN quality q USING (doc_id)
    JOIN rep r USING (doc_id)
    JOIN scrub c USING (doc_id)
    WHERE q.quality_bp >= {CLEAN_MIN_QUALITY_BP}
      AND NOT r.is_repetitive
),
st AS (
    SELECT doc_id, lang, quality_bp, string_split(scrubbed, ' ') AS toks,
           unnest(range(0, len(string_split(scrubbed, ' ')), {CHUNK_S})) AS start
    FROM base
)
SELECT doc_id, lang, quality_bp,
       CAST(start // {CHUNK_S} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + {CHUNK_W})) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {CHUNK_W}), ' ') AS chunk_text
FROM st
"""


def _events_asof(spark: SparkSession, sf_dir: str, **asof_args) -> DataFrame:
    """Every click event as-of joined to the view events of the same user
    by ``asof_join`` with ``asof_args``. Timestamps emit as fixed-width
    strings (timezone-free NTZ path); the matched view's value as integer
    bp."""
    from pdf2ocr_spark.functions.temporal import _TS_FMT, asof_join

    ev = _table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    # dedupe the right side per (user, ts) keeping the max event_id:
    # asof_join's tie rule ("last right row in sort order wins") and
    # DuckDB ASOF's arbitrary pick would otherwise disagree whenever
    # two views share a timestamp
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_id"),
            F.max_by("value", "event_id").alias("value"),
        )
    )
    out = asof_join(
        clicks, views, on="user_id", ts="ts",
        right_payload=("ts", "view_id", "value"), **asof_args,
    )
    return out.select(
        "click_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("click_ts"),
        F.col("asof_view_id").alias("view_id"),
        F.date_format("asof_ts", _TS_FMT).alias("view_ts"),
        F.floor(F.col("asof_value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("view_value_bp"),
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (functions/temporal.py): every click event joined to
    the most recent view event at-or-before it by the same user — the
    operator Spark lacks natively, composed as tag-union-window (ONE
    shuffle+sort per key; a naive inequality join would plan
    BroadcastNestedLoop). Oracle = DuckDB's NATIVE ASOF LEFT JOIN, so
    the composition is checked against a first-class implementation."""
    return _events_asof(spark, sf_dir)


def q_events_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: every click joined to the EARLIEST view
    at-or-after it by the same user (the "next state change" lookup —
    e.g. time-to-conversion). Same tag-union-window composition with
    the frame reversed (first-following instead of last-preceding);
    oracle = DuckDB's native ASOF LEFT JOIN with the <= comparator."""
    return _events_asof(spark, sf_dir, direction="forward")


def q_events_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness TOLERANCE (pandas merge_asof's
    ``tolerance``): a matched view older than 12 hours counts as no
    match (~20% of clicks keep their match on the driver corpus — both
    branches well-populated). Applied as a pure post-carry filter on the carried match ts
    — same one-shuffle-one-sort plan. Oracle = DuckDB native ASOF with
    the tolerance re-expressed as a CASE over the join result."""
    return _events_asof(spark, sf_dir, tolerance="12 hours")


SQL_EVENTS_ASOF_TOL = """
WITH clicks AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
views AS (
    SELECT user_id, ts, max(event_id) AS view_id,
           arg_max(value, event_id) AS value
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
),
j AS (
    SELECT l.click_id, l.user_id, l.ts AS lts, r.ts AS rts,
           r.view_id, r.value,
           (r.ts IS NOT NULL AND l.ts - r.ts <= INTERVAL 12 HOUR)
               AS in_tol
    FROM clicks l
    ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT click_id, user_id,
       strftime(lts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       CASE WHEN in_tol THEN view_id END AS view_id,
       CASE WHEN in_tol
            THEN strftime(rts, '%Y-%m-%d %H:%M:%S.%f') END AS view_ts,
       CASE WHEN in_tol
            THEN CAST(floor(value * 10000 + 0.5) AS BIGINT) END
           AS view_value_bp
FROM j
"""


SQL_EVENTS_ASOF_FWD = """
WITH clicks AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
views AS (
    SELECT user_id, ts, max(event_id) AS view_id,
           arg_max(value, event_id) AS value
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT l.click_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       r.view_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       CAST(floor(r.value * 10000 + 0.5) AS BIGINT) AS view_value_bp
FROM clicks l
ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


SQL_EVENTS_ASOF = """
WITH clicks AS (
    SELECT user_id, ts, event_id AS click_id FROM events
    WHERE event_type = 'click'
),
views AS (
    SELECT user_id, ts, max(event_id) AS view_id,
           arg_max(value, event_id) AS value
    FROM events WHERE event_type = 'view'
    GROUP BY user_id, ts
)
SELECT l.click_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       r.view_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       CAST(floor(r.value * 10000 + 0.5) AS BIGINT) AS view_value_bp
FROM clicks l
ASOF LEFT JOIN views r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _events_range(
    spark: SparkSession, sf_dir: str, join: Callable[..., DataFrame], **join_args
) -> DataFrame:
    """Per error event, the count of click events by the same user in the
    trailing 5 minutes, computed by ``join`` (a functions/temporal.py
    range-count join) with ``join_args``; the error ts emits as a
    fixed-width string."""
    from pdf2ocr_spark.functions.temporal import _TS_FMT

    ev = _table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    out = join(errors, clicks, on="user_id", ts="ts", width="5 minutes", **join_args)
    return out.select(
        "error_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("error_ts"),
        F.col("n_in_range").alias("n_clicks_5min"),
    )


def q_events_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded RANGE join (functions/temporal.py): per error event, the
    count of click events by the same user in the trailing 5 minutes.
    Both sides band into epoch-aligned 5-minute buckets and equi-join
    on (user, band) with the error side exploded to the two reachable
    bands — a shuffled hash join with band-bounded fan-out instead of
    the nested-loop plan a raw inequality join gets. Oracle = DuckDB's
    native inequality join."""
    from pdf2ocr_spark.functions.temporal import range_count_join

    return _events_range(spark, sf_dir, range_count_join)


def q_events_range_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The burst-proof twin of events_range: hierarchical sub-band
    decomposition (functions/temporal.range_count_join_hierarchical —
    interior sub-bands contribute pre-aggregated counts, only the two
    boundary sub-bands join at row level). Same DuckDB oracle as the
    banded operator: the two plans must be row-identical (the result is
    split-invariant). split=4 here: per-row fan-out is split+2 probes
    and the optimum is ~sqrt(band occupancy), which is ~1 for this
    corpus (round-6 right-sizing; split=20 was 21 probes per error row —
    2.4 s -> ~1.0 s at 10x with identical output). The burst harness
    (BENCH/temporal_skew.py) drives the operator with its own split
    sized to its constructed hot band."""
    from pdf2ocr_spark.functions.temporal import range_count_join_hierarchical

    return _events_range(spark, sf_dir, range_count_join_hierarchical, split=4)


def q_events_range_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production range-count join (skew-split hybrid): banded path
    for rows probing normal bands, hierarchical path only behind a
    broadcast heavy-(key, band) set. Same oracle as events_range."""
    from pdf2ocr_spark.functions.temporal import range_count_join_adaptive

    return _events_range(
        spark, sf_dir, range_count_join_adaptive, split=20, heavy_per_band=64
    )


SQL_EVENTS_RANGE = """
WITH errors AS (
    SELECT event_id AS error_id, user_id, ts FROM events
    WHERE event_type = 'error'
),
clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT e.error_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS error_ts,
       count(c.ts) AS n_clicks_5min
FROM errors e
LEFT JOIN clicks c
  ON c.user_id = e.user_id
 AND c.ts > e.ts - INTERVAL 5 MINUTE
 AND c.ts <= e.ts
GROUP BY e.error_id, e.user_id, e.ts
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup (the TimescaleDB continuous-
    aggregate pattern): hourly per-type aggregates, and DAILY aggregates
    computed FROM the hourly partials — never re-scanning raw events.
    At 10^12 events the hourly relation is ~5 orders of magnitude
    smaller than raw, so the coarser grain costs one tiny shuffle; the
    output unions both grains into one continuous-aggregate relation.
    Sums roll up as integer bp (each event's value quantized to bp at
    the EVENT grain, then integer sums upward — floats never enter any
    aggregate, so every grain is partition-order-free and the daily
    values are exactly the sums of the published hourly rows, the
    invariant a rollup table must satisfy)."""
    ev = _table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.window("ts", "1 hour")["start"].alias("bucket"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            # quantize PER EVENT (scalar floor on one double — identical
            # IEEE result in both engines), then integer-sum: a
            # floor(SUM(double)) is partition-order-dependent at a
            # rounding boundary, the same trap kmeans_train avoids
            F.sum(
                F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
            ).alias("value_bp"),
        )
    )
    daily = (
        hourly.groupBy(
            F.window("bucket", "1 day")["start"].alias("bucket"), "event_type"
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_bp").alias("value_bp"),
        )
    )
    fmt = lambda df, g: df.select(  # noqa: E731
        F.lit(g).alias("grain"),
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "value_bp",
    )
    return fmt(hourly, "hour").unionByName(fmt(daily, "day"))


SQL_EVENTS_ROLLUP = """
WITH hourly AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_bp
    FROM events GROUP BY 1, 2
),
daily AS (
    SELECT CAST(date_trunc('day', bucket) AS TIMESTAMP) AS bucket,
           event_type,
           sum(n_events) AS n_events, sum(value_bp) AS value_bp
    FROM hourly GROUP BY 1, 2
)
SELECT 'hour' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, CAST(n_events AS BIGINT) AS n_events, value_bp
FROM hourly
UNION ALL
SELECT 'day' AS grain, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(value_bp AS BIGINT) AS value_bp
FROM daily
"""


#: sessionization gap: a new session starts after 30 min of inactivity
SESSION_GAP_MIN = 30


def q_events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events table (the classic
    clickstream operator): per user, a new session starts when the gap
    since the previous event exceeds SESSION_GAP_MIN minutes. The
    events `ts` is TIMESTAMP_NTZ, so everything stays timezone-FREE:
    the gap is NTZ subtraction vs an INTERVAL literal, and session
    boundaries are emitted as fixed-width formatted strings
    (yyyy-MM-dd HH:mm:ss.SSSSSS ≡ DuckDB's %Y-%m-%d %H:%M:%S.%f, both
    zero-padded 6-digit microseconds — an epoch conversion would drag
    the session timezone in).

    Plan shape at 10^12 events: ONE shuffle+sort by user_id serves both
    window functions (lag and the running is_new sum share a window
    spec, so Catalyst plans a single Sort + Window pair), then the
    session rollup groups on (user_id, session_no) — partials combine
    map-side. This is also the batch twin of a
    flatMapGroupsWithState sessionizer: same per-user event-time order,
    same gap rule."""
    from pdf2ocr_spark.functions.temporal import sessionize_single_pass

    ev = _table(spark, sf_dir, "events")
    return sessionize_single_pass(ev, gap_min=SESSION_GAP_MIN)


SQL_EVENTS_SESSIONIZED = f"""
WITH e AS (
    SELECT user_id, event_id, event_type, value, ts,
           lag(ts) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS prev_ts
    FROM events
),
s AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL {SESSION_GAP_MIN} MINUTE
                   THEN 1 ELSE 0 END AS is_new
    FROM e
),
n AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
    FROM s
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_event_types,
       CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
           AS value_bp
FROM n GROUP BY user_id, session_no
"""


def q_events_sessionized_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-proof twin of events_sessionized: two-phase chunked
    sessionization (functions/temporal.sessionize_two_phase — per-(user,
    day) pre-sessions merged by a second pass over intervals). Checked
    against the SAME DuckDB oracle as the single-pass query: the two
    plans must be row-identical, which is the merge rule's correctness
    proof. BENCH/temporal_skew.py measures the straggler difference
    under a hot user."""
    from pdf2ocr_spark.functions.temporal import sessionize_two_phase

    ev = _table(spark, sf_dir, "events")
    return sessionize_two_phase(ev, gap_min=SESSION_GAP_MIN, chunk="1 day")


def _repetition_stats(source, text):
    words = text.split(" ")
    n = len(words)
    dup_bp = ((n - len(set(words))) * 10000) // n
    grams = Counter(zip(words, words[1:]))
    top_bp = (max(grams.values()) * 10000) // (n - 1) if grams else 0
    return n, dup_bp, top_bp, dup_bp > DUP_WORD_MAX_BP or top_bp > TOP_BIGRAM_MAX_BP


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates (Rae et al. 2021, the
    standard pretraining corpus filters): per document,

    - dup_word_frac_bp  = 10^4 * (n_words - n_distinct_words) / n_words
      (fraction of word occurrences that repeat an earlier word);
    - top_bigram_frac_bp = 10^4 * count(most frequent word bigram) /
      n_bigrams (boilerplate-y texts concentrate mass in one bigram);
    - is_repetitive: either fraction over the Gopher-ish thresholds.

    All ratios are INTEGER basis points (Python int floor division,
    exactly the oracle's //) so both engines agree bit-for-bit. Both
    statistics are per-document, so no shuffle is needed. Kept apart
    from ``clean_gates`` on purpose: the streaming clean tests use it as
    the independent reference for those gates."""
    return _per_document(
        spark, sf_dir,
        "doc_id long, n_words long, dup_word_frac_bp long, "
        "top_bigram_frac_bp long, is_repetitive boolean",
        _repetition_stats,
    )


SQL_QUALITY_REPETITION = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
per_word AS (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
),
word_stats AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           count(*) AS n_distinct
    FROM per_word GROUP BY doc_id
),
toklist AS (
    SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(CASE WHEN len(l) >= 2
                       THEN list_transform(range(1, len(l)),
                                           i -> l[i] || ' ' || l[i + 1])
                       ELSE [] END) AS g
    FROM toklist
),
per_gram AS (
    SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
),
gram_stats AS (
    SELECT doc_id, CAST(max(c) AS BIGINT) AS top_gram,
           CAST(sum(c) AS BIGINT) AS n_grams
    FROM per_gram GROUP BY doc_id
)
SELECT w.doc_id,
       w.n_words,
       ((w.n_words - w.n_distinct) * 10000) // w.n_words AS dup_word_frac_bp,
       coalesce((g.top_gram * 10000) // g.n_grams, 0) AS top_bigram_frac_bp,
       (((w.n_words - w.n_distinct) * 10000) // w.n_words > {DUP_WORD_MAX_BP}
        OR coalesce((g.top_gram * 10000) // g.n_grams, 0) > {TOP_BIGRAM_MAX_BP})
           AS is_repetitive
FROM word_stats w LEFT JOIN gram_stats g ON w.doc_id = g.doc_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ligature_roundtrip": q_ligature_roundtrip,
    "pt_clean": q_pt_clean,
    "sentence_chunks": q_sentence_chunks,
    "token_stats": q_token_stats,
    "summary_stats": q_summary_stats,
    "page_number_filter": q_page_number_filter,
    "line_predicates": q_line_predicates,
    "heading_detect": q_heading_detect,
    "boilerplate_strip": q_boilerplate_strip,
    "dedup_exact": q_dedup_exact,
    "filename_title": q_filename_title,
    "dedup_exact_full": q_dedup_exact_full,
    "dedup_minhash_lsh": q_dedup_minhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_applied": q_dedup_applied,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "similarity_cosine_topk": q_cosine_topk,
    "similarity_ann_lsh": q_ann_lsh_topk,
    "similarity_ann_recall": q_ann_recall,
    "doc_chunks": q_doc_chunks,
    "similarity_ivf": q_ivf_topk,
    "dedup_embedding_cosine": q_embedding_near_dup,
    "lang_id": q_lang_id,
    "pii_scrub": q_pii_scrub,
    "sample_stratified": q_sample_stratified,
    "vocab_stats": q_vocab_stats,
    "doc_tfidf": q_doc_tfidf,
    "corpus_clean": q_corpus_clean,
    "quality_score": q_quality_score,
    "quality_repetition": q_quality_repetition,
    "doc_fingerprint": q_fingerprint,
    "epub_lang_map": q_epub_lang_map,
    "tpch_pricing_summary": q_pricing_summary,
    "tpch_top_revenue": q_top_revenue_orders,
    "events_windowed": q_events_windowed,
    "events_sessionized": q_events_sessionized,
    "events_asof": q_events_asof,
    "events_range": q_events_range,
    "events_rollup": q_events_rollup,
    "media_decode": q_media_decode,
    "media_frames": q_media_frames,
    "similarity_ivf_trained": q_ivf_trained,
    "similarity_ivf_recall_gain": q_ivf_recall_gain,
    "events_sessionized_chunked": q_events_sessionized_chunked,
    "events_range_hier": q_events_range_hier,
    "events_range_adaptive": q_events_range_adaptive,
    "decontaminate": q_decontaminate,
    "events_percentiles": q_events_percentiles,
    "events_asof_fwd": q_events_asof_fwd,
    "corpus_split": q_corpus_split,
    "sample_mixture": q_sample_mixture,
    "events_asof_tol": q_events_asof_tol,
    "line_dedup": q_line_dedup,
    "decontaminate_applied": q_decontaminate_applied,
}


def _ivf_trained_sql() -> str:
    from pdf2ocr_spark.functions.similarity import KMEANS_TRAIN_ITERS
    from pdf2ocr_spark.functions.similarity_sql import sql_ivf_trained

    return sql_ivf_trained(KMEANS_TRAIN_ITERS)


def _training_oracle_sql() -> Dict[str, str]:
    from pdf2ocr_spark.functions.dedup_sql import (
        SQL_DEDUP_CLUSTERS,
        SQL_DEDUP_EXACT_FULL,
        SQL_DEDUP_MINHASH,
        SQL_DEDUP_NGRAM_JACCARD,
        SQL_DEDUP_SIMHASH,
    )
    from pdf2ocr_spark.functions.similarity_sql import (
        SQL_ANN_LSH_TOPK,
        SQL_COSINE_TOPK,
        SQL_EMBEDDING_NEAR_DUP,
        SQL_FINGERPRINT,
        SQL_IVF_TOPK,
        SQL_LANG_ID,
        SQL_QUALITY_SCORE,
    )

    return {
        "dedup_exact_full": SQL_DEDUP_EXACT_FULL,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
        "dedup_clusters": SQL_DEDUP_CLUSTERS,
        "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "similarity_cosine_topk": SQL_COSINE_TOPK,
        "similarity_ann_lsh": SQL_ANN_LSH_TOPK,
        "similarity_ivf": SQL_IVF_TOPK,
        "dedup_embedding_cosine": SQL_EMBEDDING_NEAR_DUP,
        "lang_id": SQL_LANG_ID,
        "quality_score": SQL_QUALITY_SCORE,
        "doc_fingerprint": SQL_FINGERPRINT,
    }


ORACLE_SQL: Dict[str, str] = {
    "ligature_roundtrip": SQL_LIGATURE,
    "pt_clean": SQL_PT_CLEAN,
    "sentence_chunks": SQL_SENTENCE_CHUNKS,
    "token_stats": SQL_TOKEN_STATS,
    "summary_stats": SQL_SUMMARY_STATS,
    "page_number_filter": SQL_PAGE_NUMBER_FILTER,
    "line_predicates": SQL_LINE_PREDICATES,
    "heading_detect": SQL_HEADING_DETECT,
    "boilerplate_strip": SQL_BOILERPLATE_STRIP,
    "dedup_exact": SQL_DEDUP_EXACT,
    "filename_title": SQL_FILENAME_TITLE,
    "epub_lang_map": _epub_sql(),
    "tpch_pricing_summary": SQL_PRICING_SUMMARY,
    "tpch_top_revenue": SQL_TOP_REVENUE,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_sessionized": SQL_EVENTS_SESSIONIZED,
    "events_asof": SQL_EVENTS_ASOF,
    "events_range": SQL_EVENTS_RANGE,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "media_decode": SQL_MEDIA_DECODE,
    "media_frames": SQL_MEDIA_FRAMES,
    "pii_scrub": SQL_PII_SCRUB,
    "doc_chunks": SQL_DOC_CHUNKS,
    "similarity_ann_recall": _ann_recall_sql(),
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "vocab_stats": SQL_VOCAB_STATS,
    "doc_tfidf": SQL_DOC_TFIDF,
    "corpus_clean": _corpus_clean_sql(),
    "quality_repetition": SQL_QUALITY_REPETITION,
    "dedup_applied": _dedup_applied_sql(),
    "events_sessionized_chunked": SQL_EVENTS_SESSIONIZED,
    "events_range_hier": SQL_EVENTS_RANGE,
    "events_range_adaptive": SQL_EVENTS_RANGE,
    "decontaminate": SQL_DECONTAMINATE,
    "events_asof_fwd": SQL_EVENTS_ASOF_FWD,
    "corpus_split": SQL_CORPUS_SPLIT,
    "events_asof_tol": SQL_EVENTS_ASOF_TOL,
    "line_dedup": SQL_LINE_DEDUP,
    "decontaminate_applied": _decontaminate_applied_sql(),
    "sample_mixture": _mixture_sql(),
    "events_percentiles": SQL_EVENTS_PERCENTILES,
    "similarity_ivf_trained": _ivf_trained_sql(),
    "similarity_ivf_recall_gain": _ivf_recall_gain_sql(),
    **_training_oracle_sql(),
}
