"""Text-analysis operators over the documents relation (training-data
pipeline tier): language ID, quality scoring, token statistics, document
fingerprinting. Pure column expressions (JVM codegen, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pdf2ocr_spark.functions.dedup import base_hash

#: tiny per-language stopword profiles (n-gram heuristic stand-in). The
#: corpus vocabulary is English-ish, so 'en' dominates — the operator's
#: value is its deterministic, oracle-checkable argmax plumbing.
STOPWORDS = {
    "de": ("der", "die", "und"),
    "en": ("the", "a", "of"),
    "es": ("el", "la", "los"),
    "fr": ("le", "la", "les"),
    "zh": ("de", "shi", "bu"),
}
LANGS = sorted(STOPWORDS)  # alphabetical = tie-break priority order

FINGERPRINT_K = 4

# Gopher repetition-gate thresholds, shared by the quality_repetition
# query, the DuckDB oracles and plans/queries.clean_gates (the one gate
# definition behind both corpus_clean and the streaming clean pipeline);
# integer basis points: 0.63 dup-word mass, 0.20 top-bigram mass
DUP_WORD_MAX_BP = 6300
TOP_BIGRAM_MAX_BP = 2000


def _toks(text: Column) -> Column:
    return F.split(text, " ")


def _stop_hits(text: Column, words: tuple) -> Column:
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(_toks(text), lambda x: F.array_contains(lst, x)))


def lang_scores(text: Column) -> dict:
    n = F.size(_toks(text))
    return {
        lang: (_stop_hits(text, words) / n).alias(f"score_{lang}")
        for lang, words in STOPWORDS.items()
    }


def bp(col: Column) -> Column:
    """Deterministic 4-decimal fixed-point: floor(x*10000 + 0.5) as BIGINT.
    Used instead of round(x, 4) in oracle-checked outputs — round()'s
    tie-breaking differs between engines (HALF_UP vs banker's) on values
    like 0.31575, while floor(+0.5) on the identical double is exact."""
    return F.floor(col * 10000 + F.lit(0.5)).cast("long")


def lang_id(documents: DataFrame) -> DataFrame:
    """Stopword-ratio language ID with alphabetical tie-break (the CASE
    ladder evaluates langs in sorted order, mirroring the oracle SQL)."""
    scores = lang_scores(F.col("text"))
    out = documents.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        *[bp(scores[lang]).alias(f"score_{lang}") for lang in LANGS],
    )
    # rebuild the CASE ladder on the rounded scores so both engines branch
    # on identical values
    rounded = {lang: F.col(f"score_{lang}") for lang in LANGS}
    pred = None
    for lang in LANGS:
        cond = None
        for other in LANGS:
            if other == lang:
                continue
            c = rounded[lang] >= rounded[other]
            cond = c if cond is None else cond & c
        pred = (
            F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
        )
    return out.withColumn("lang_pred", pred)


def quality_bp_expr(
    text: Column | None = None, n_chars: Column | None = None
) -> Column:
    """The composite quality score as a single reusable COLUMN (bp):
    length saturation + stopword ratio + lexical diversity. Shared by
    the batch quality_score relation and plans/queries.clean_gates,
    where a projection avoids the streaming self-join a
    quality_score(…)-then-join formulation would plan."""
    text = text if text is not None else F.col("text")
    n_chars = n_chars if n_chars is not None else F.col("n_chars")
    toks = _toks(text)
    n = F.size(toks)
    len_score = F.least(F.lit(1.0), n_chars / F.lit(500.0))
    stop_ratio = _stop_hits(text, STOPWORDS["en"]) / n
    diversity = F.size(F.array_distinct(toks)) / n
    score = F.lit(0.4) * len_score + F.lit(0.3) * stop_ratio + F.lit(0.3) * diversity
    return bp(score)


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite quality score: length saturation + stopword ratio +
    lexical diversity (1 - duplicate-token ratio). Deterministic
    weights; the composite itself comes from quality_bp_expr so the
    formula exists in exactly one place."""
    text = F.col("text")
    toks = _toks(text)
    n = F.size(toks)
    len_score = F.least(F.lit(1.0), F.col("n_chars") / F.lit(500.0))
    stop_ratio = _stop_hits(text, STOPWORDS["en"]) / n
    diversity = F.size(F.array_distinct(toks)) / n
    return documents.select(
        "doc_id",
        bp(len_score).alias("len_score_bp"),
        bp(stop_ratio).alias("stop_ratio_bp"),
        bp(diversity).alias("diversity_bp"),
        quality_bp_expr().alias("quality_bp"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Bottom-k sketch fingerprint: the K smallest distinct-token hashes,
    joined '-' — a compact doc identity stable under token reordering."""
    toks = F.array_distinct(_toks(F.col("text")))
    hashes = F.array_sort(F.transform(toks, lambda t: base_hash(t)))
    fp = F.array_join(
        F.transform(
            F.slice(hashes, 1, FINGERPRINT_K), lambda h: h.cast("string")
        ),
        "-",
    )
    return documents.select("doc_id", fp.alias("fingerprint"))
