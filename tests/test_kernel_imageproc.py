"""Image-kernel tests: each preprocess step's invariants, the safety
guards (std<10 revert, exception revert — ref ocr.py:170-184), and the
rasterize->preprocess->decode round trip's exactness + determinism."""

import numpy as np
import pytest

from pdf2ocr_spark.kernel import imageproc as ip
from pdf2ocr_spark.kernel.rasterocr import (
    decode_page,
    ocr_roundtrip,
    render_page,
)


def page(seed=7, shape=(60, 80)):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=shape).astype(np.uint8)


class TestSteps:
    def test_grayscale_rgb(self):
        rgb = np.zeros((4, 4, 3), dtype=np.uint8)
        rgb[..., 1] = 255  # pure green
        g = ip.to_grayscale(rgb)
        assert g.shape == (4, 4)
        assert int(g[0, 0]) == 149  # 0.587*255 truncated by the uint8 cast

    def test_autocontrast_stretches(self):
        img = np.clip(page(), 100, 150)
        out = ip.autocontrast(img)
        assert out.min() == 0 and out.max() >= 254  # float truncation may land on 254

    def test_autocontrast_constant_noop(self):
        img = np.full((8, 8), 42, dtype=np.uint8)
        assert (ip.autocontrast(img) == img).all()

    def test_median_kills_salt(self):
        img = np.full((20, 20), 200, dtype=np.uint8)
        img[10, 10] = 0  # single salt pixel
        out = ip.median3(img)
        assert out[10, 10] == 200

    def test_equalize_monotone(self):
        img = page()
        out = ip.equalize(img)
        # order-preserving: a<=b in input => lut[a]<=lut[b]
        lut = np.zeros(256, dtype=int)
        for v in range(256):
            sel = img == v
            if sel.any():
                lut[v] = int(out[sel][0])
        vals = [lut[v] for v in range(256) if (img == v).any()]
        assert vals == sorted(vals)

    def test_otsu_bimodal(self):
        img = np.concatenate(
            [np.full(500, 30, dtype=np.uint8), np.full(500, 220, dtype=np.uint8)]
        ).reshape(20, 50)
        t = ip.otsu_threshold(img)
        # any split on the plateau between the modes maximizes variance;
        # ties resolve to the lowest index
        assert 30 <= t < 220

    def test_guard_flat_image_reverts(self):
        # near-flat image: chain result std < 10 -> revert to grayscale input
        img = np.full((40, 40), 128, dtype=np.uint8)
        out = ip.preprocess_page(img)
        assert (out == img).all()

    def test_determinism(self):
        img = page(123)
        a = ip.preprocess_page(img.copy())
        b = ip.preprocess_page(img.copy())
        assert (a == b).all()


class TestRasterOcr:
    CASES = [
        "Hello World.",
        "A efi cacia da refl exao fi losofi ca.",
        "Journal of src4\nAgg line group hash vector fast column order.\n42",
        "• bullet one\n1. numbered point",
        "",
        "the quick brown fox jumps over the lazy dog 0123456789",
        "UPPER CASE HEADING",
    ]

    @pytest.mark.parametrize("text", CASES)
    def test_roundtrip_exact(self, text):
        assert ocr_roundtrip(text) == text

    def test_roundtrip_deterministic(self):
        t = self.CASES[2]
        assert ocr_roundtrip(t) == ocr_roundtrip(t)

    def test_decode_without_preprocess(self):
        t = "raw bitmap decode"
        assert decode_page(render_page(t)) == t

    def test_unsupported_chars_become_spaces(self):
        assert ocr_roundtrip("a€b") == "a b"

    def test_blank_page_decodes_blank(self):
        img = render_page("")
        assert decode_page(img).strip() == ""


def test_spark_ocr_stage(spark, sf_dir):
    from pyspark.sql import functions as F

    from pdf2ocr_spark.operators.ocr import ocr_recover_stats
    from pdf2ocr_spark.pipeline import load_docs_corpus

    docs = load_docs_corpus(spark, sf_dir).where(F.col("doc_id").cast("long") < 40)
    stats = ocr_recover_stats(docs, max_pages_per_doc=2).toPandas()
    assert len(stats) == 40
    # the round trip is exact for the generated corpus (CHARSET covers it)
    assert (stats["recovered_matches"] == stats["page_count"]).all()


def test_spark_ocr_stage_reads_either_document_shape(spark, sf_dir):
    """The small document rows give the same stats as the nested docs
    built from them: the OCR stage runs the docgen channel in its own
    pass, so it needs no docgen stage of its own."""
    import pandas as pd

    from pdf2ocr_spark.operators.docgen import documents_to_docs
    from pdf2ocr_spark.operators.ocr import ocr_recover_stats
    from pdf2ocr_spark.pipeline import load_documents

    small = load_documents(spark, sf_dir).where("doc_id < 20")
    small_stats, nested_stats = (
        ocr_recover_stats(docs, max_pages_per_doc=2)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
        for docs in (small, documents_to_docs(small))
    )
    assert len(small_stats) == 20
    pd.testing.assert_frame_equal(small_stats, nested_stats)


def test_spark_ocr_stage_adaptive_clahe(spark, sf_dir):
    """End-to-end adaptive variant (registered as ocr_roundtrip_adaptive):
    the real tiled CLAHE runs in the Step-3 slot and the round trip stays
    exact — CLAHE remaps values but preserves the ink/paper rank structure
    the decoder thresholds on."""
    from pyspark.sql import functions as F

    from pdf2ocr_spark.operators.ocr import ocr_recover_stats
    from pdf2ocr_spark.pipeline import load_docs_corpus

    docs = load_docs_corpus(spark, sf_dir).where(F.col("doc_id").cast("long") < 20)
    stats = ocr_recover_stats(docs, max_pages_per_doc=2, adaptive=True).toPandas()
    assert len(stats) == 20
    assert (stats["recovered_matches"] == stats["page_count"]).all()


class TestDpiAndBatching:
    """--dpi and --batch-size threading (ref ocr.py:40 zoom matrix;
    ref ocr.py:393-433 page-window batching, ranges pinned by
    ref tests/test_batch_size.py:92-97)."""

    def test_dpi_scales_bitmap(self):
        from pdf2ocr_spark.kernel.rasterocr import render_page

        lo = render_page("scaling check", dpi=400)
        hi = render_page("scaling check", dpi=800)
        assert hi.shape[0] == 2 * lo.shape[0]
        assert hi.shape[1] == 2 * lo.shape[1]

    def test_roundtrip_at_high_dpi(self):
        assert ocr_roundtrip("dpi eight hundred check.", dpi=800) == (
            "dpi eight hundred check."
        )

    def test_batch_ranges_reference_cases(self):
        from pdf2ocr_spark.kernel.rasterocr import page_batch_ranges

        # ref tests/test_batch_size.py:92-97 (0-based inclusive windows)
        assert page_batch_ranges(10, 3) == [(0, 2), (3, 5), (6, 8), (9, 9)]
        assert page_batch_ranges(5, 10) == [(0, 4)]
        assert page_batch_ranges(4, 1) == [(0, 0), (1, 1), (2, 2), (3, 3)]
        assert page_batch_ranges(10, None) == [(0, 9)]
        assert page_batch_ranges(0, 3) == []

    def test_batched_recover_equals_unbatched(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from pdf2ocr_spark.operators.ocr import ocr_recover_stats
        from pdf2ocr_spark.pipeline import load_docs_corpus

        docs = load_docs_corpus(spark, sf_dir).where(
            F.col("doc_id").cast("long") < 8
        )
        base = ocr_recover_stats(docs, max_pages_per_doc=3).toPandas()
        batched = ocr_recover_stats(
            docs, max_pages_per_doc=3, batch_size=2
        ).toPandas()
        b = base.sort_values("doc_id").reset_index(drop=True)
        w = batched.sort_values("doc_id").reset_index(drop=True)
        assert (b == w).all().all()
        assert (b["recovered_matches"] == b["page_count"]).all()


class TestClahe:
    """Real CLAHE for the §2.3 adaptive-contrast slot (ref ocr.py:122-135
    parameters; the default chain keeps the reference's no-skimage
    fallback — see imageproc.clahe docstring)."""

    def test_boosts_low_contrast_and_deterministic(self):
        import numpy as np

        from pdf2ocr_spark.kernel.imageproc import clahe

        rng = np.random.default_rng(7)
        img = rng.integers(90, 140, size=(200, 300)).astype(np.uint8)
        out = clahe(img)
        assert out.shape == img.shape and out.dtype == np.uint8
        assert out.std() > img.std()
        assert (clahe(img) == out).all()

    def test_flat_image_stays_flat(self):
        import numpy as np

        from pdf2ocr_spark.kernel.imageproc import clahe

        flat = np.full((100, 100), 128, np.uint8)
        assert np.unique(clahe(flat)).size <= 3

    def test_clip_limit_bounds_amplification(self):
        import numpy as np

        from pdf2ocr_spark.kernel.imageproc import clahe

        rng = np.random.default_rng(3)
        img = rng.integers(100, 130, size=(128, 128)).astype(np.uint8)
        conservative = clahe(img, clip_limit=0.01)
        aggressive = clahe(img, clip_limit=1.0)  # = unclipped AHE
        assert conservative.std() <= aggressive.std()

    @pytest.mark.parametrize(
        "text",
        [
            "Hello World.",
            "A efi cacia da refl exao fi losofi ca.",
            "the quick brown fox jumps over the lazy dog 0123456789",
        ],
    )
    def test_adaptive_chain_roundtrip(self, text):
        """The decoder survives the CLAHE chain (locally monotone mapping
        keeps ink below the border-paper threshold)."""
        from pdf2ocr_spark.kernel.imageproc import preprocess_page
        from pdf2ocr_spark.kernel.rasterocr import (
            decode_page,
            rebuild_wrapped,
            render_page,
        )

        dec = decode_page(preprocess_page(render_page(text), adaptive=True))
        assert rebuild_wrapped(text, dec) == text
