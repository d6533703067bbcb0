"""Config validation contract, ported from the reference rules
(config.py:93-152, main.py:158-175; tests/test_config.py intent)."""

import pytest

from pdf2ocr_spark.config import ConfigError, ExtractConfig


def test_defaults_valid():
    c = ExtractConfig()
    assert set(c.effective_formats) == {"text", "docx_para", "html", "markdown"}


def test_layout_exclusive():
    c = ExtractConfig(formats=("text", "html"), preserve_layout=True)
    assert c.effective_formats == ("layout_text",)


def test_epub_implies_docx():
    c = ExtractConfig(formats=("html",), epub=True)
    assert "docx_para" in c.effective_formats


def test_no_formats_rejected():
    with pytest.raises(ConfigError):
        ExtractConfig(formats=())


def test_layout_with_no_formats_ok():
    # layout mode needs no other format (it forces its own output)
    c = ExtractConfig(formats=(), preserve_layout=True)
    assert c.effective_formats == ("layout_text",)


def test_unknown_format_rejected():
    with pytest.raises(ConfigError):
        ExtractConfig(formats=("text", "pdfx"))


@pytest.mark.parametrize("dpi", [71, 1201, 0])
def test_dpi_range(dpi):
    with pytest.raises(ConfigError):
        ExtractConfig(dpi=dpi)


def test_dpi_bounds_ok():
    ExtractConfig(dpi=72)
    ExtractConfig(dpi=1200)


def test_max_sentences_zero_is_none():
    assert ExtractConfig(max_sentences=0).max_sentences is None
    assert ExtractConfig(max_sentences=5).max_sentences == 5
    with pytest.raises(ConfigError):
        ExtractConfig(max_sentences=-1)


def test_batch_and_partitions():
    with pytest.raises(ConfigError):
        ExtractConfig(batch_size=0)
    with pytest.raises(ConfigError):
        ExtractConfig(num_partitions=0)


def test_unsupported_lang_rejected():
    # ref ocr.py:450-493: a typo'd lang must fail fast, not silently degrade
    with pytest.raises(ConfigError):
        ExtractConfig(lang="porr")
    with pytest.raises(ConfigError):
        ExtractConfig(lang="xx")


@pytest.mark.parametrize("lang", ["eng", "por", "deu", "chi_sim"])
def test_supported_langs_accepted(lang):
    assert ExtractConfig(lang=lang).lang == lang


@pytest.mark.parametrize("lang", ["ara", "ell", "aze_cyrl"])
def test_tesseract_shaped_lang_needs_opt_in(lang):
    # ref ocr.py:450-493 rejects codes not in `tesseract --list-langs`;
    # with no tesseract to probe, the default matches that fail-fast.
    # allow_unknown_langs=True is the documented relaxation: shaped
    # codes are accepted with a warning (deployments whose OCR runtime
    # has more traineddata than the engine's known map).
    with pytest.raises(ConfigError):
        ExtractConfig(lang=lang)
    with pytest.warns(UserWarning, match="outside the engine's known map"):
        cfg = ExtractConfig(lang=lang, allow_unknown_langs=True)
        assert cfg.lang == lang


def test_multi_lang_combo_accepted():
    # reference supports `-l por+eng` combos (every part validated)
    assert ExtractConfig(lang="por+eng").lang == "por+eng"
    with pytest.raises(ConfigError):
        ExtractConfig(lang="por+porr")


def test_empty_line_not_list_item():
    from pdf2ocr_spark.kernel.textproc import _looks_like_list_item

    assert _looks_like_list_item("") is False
    assert _looks_like_list_item("• item") is True


def test_default_cpus_is_the_variable_else_the_affinity_mask(monkeypatch):
    import os

    from pdf2ocr_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))
