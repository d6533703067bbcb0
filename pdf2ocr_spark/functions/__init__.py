"""Training-data operator library (dedup, decontamination, similarity,
quality, temporal): column expressions, with numpy kernels run as Arrow
stages through ``pdf2ocr_spark.arrowmap`` — no per-row UDFs, no pandas.
"""
