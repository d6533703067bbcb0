"""Pure-Python/numpy compute kernels.

Nothing in this package imports pyspark: every function here is
unit-testable without a JVM and is wrapped by thin Arrow-batch stages in
``pdf2ocr_spark.operators``.
"""

from pdf2ocr_spark.kernel.textproc import (  # noqa: F401
    clean_portuguese_charset,
    reassemble_paragraphs,
    rebuild_paragraphs,
    repair_ligatures,
    split_paragraph_by_sentences,
    strip_boilerplate_lines,
)
