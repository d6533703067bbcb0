"""Unit tests for the per-document span-emission kernel.

Golden structure ported from the reference sink tests:
- DOCX paragraph goldens: /root/reference/tests/test_docx.py:24-50,
  tests/test_converters.py:36-68 (3 blocks -> exactly 3 paragraphs)
- HTML structure: tests/test_converters.py:70-100 + converters/html.py:113-126
  (one page div per NON-EMPTY page, 1-based 'pdf2ocr - Page N' headers)
- media interleave: engine extension (FIXTURES.md case media-interleave)
"""

import pytest

from pdf2ocr_spark.kernel.emit import (
    extract_document,
    wrap_paragraph,
)


def page(text, offset):
    return {"kind": "page", "text": text, "media_ref": None, "offset": offset}


def media(ref, offset):
    return {"kind": "media", "text": None, "media_ref": ref, "offset": offset}


def by_kind(rows, kind):
    return [r for r in rows if r[1] == kind]


class TestDocxParas:
    def test_three_blocks_three_paras(self):
        # ref tests/test_docx.py:24-50: 3 blank-line-separated blocks, each
        # multi-line, produce exactly 3 paragraphs with collapsed whitespace
        text = (
            "First block line one ends here.\n"
            "\n"
            "Second block which is another paragraph of content ends too.\n"
            "\n"
            "Third block closes the document with a final sentence."
        )
        rows = extract_document("d1", [page(text, 0)], formats=["docx_para"])
        paras = by_kind(rows, "docx_para")
        assert len(paras) == 3
        assert paras[0][2] == "First block line one ends here."
        assert [r[4] for r in paras] == [0, 1, 2]

    def test_empty_doc_emits_nothing(self):
        rows = extract_document("d1", [page("", 0), page("   ", 1)])
        assert rows == []


class TestHtmlStructure:
    def test_page_headers_skip_empty_pages(self):
        # ref converters/html.py:113-121 - page numbering counts only
        # non-empty pages, 1-based
        rows = extract_document(
            "d1",
            [page("Alpha content one.", 0), page("", 1), page("Beta content two.", 2)],
            formats=["html"],
        )
        headers = by_kind(rows, "page_header")
        assert [h[2] for h in headers] == ["pdf2ocr - Page 1", "pdf2ocr - Page 2"]
        html = by_kind(rows, "html")
        assert html[0][2] == "<p>Alpha content one.</p>"
        assert html[1][2] == "<p>Beta content two.</p>"

    def test_multiple_paragraphs_per_page(self):
        text = "One sentence here.\n\nAnother paragraph follows after."
        rows = extract_document("d1", [page(text, 0)], formats=["html"])
        assert len(by_kind(rows, "html")) == 2
        assert len(by_kind(rows, "page_header")) == 1


class TestTextWrap:
    def test_wrap_budget(self):
        long_para = " ".join(["word"] * 50)  # 249 chars -> 3 lines at 95
        lines = wrap_paragraph(long_para, columns=95)
        assert all(len(ln) <= 95 for ln in lines)
        assert " ".join(lines) == long_para

    def test_overlong_word_own_line(self):
        lines = wrap_paragraph("a " + "x" * 200 + " b", columns=10)
        assert "x" * 200 in lines

    def test_text_kind_rows(self):
        rows = extract_document(
            "d1", [page("Short sentence here.", 0)], formats=["text"]
        )
        text_rows = by_kind(rows, "text")
        assert text_rows == [("d1", "text", "Short sentence here.", None, 0)]


class TestBoilerplateIntegration:
    def test_headers_stripped_across_pages(self):
        pages = [
            page("Journal of Science\nActual content page %d continues here." % i, i)
            for i in range(4)
        ]
        rows = extract_document("d1", pages, formats=["docx_para"])
        assert all("Journal of Science" not in (r[2] or "") for r in rows)


class TestPortugueseGate:
    def test_por_cleans_pages(self):
        rows = extract_document(
            "d1", [page("custa € cinco reais.", 0)], formats=["docx_para"], lang="por"
        )
        assert rows[0][2] == "custa  cinco reais."

    def test_eng_untouched(self):
        rows = extract_document(
            "d1", [page("costs € five.", 0)], formats=["docx_para"], lang="eng"
        )
        assert "€" in rows[0][2]


class TestMediaInterleave:
    def test_media_passthrough_in_order(self):
        spans = [
            page("First page text ends.", 0),
            media("img://a", 1),
            page("Second page text ends.", 2),
            media("img://b", 3),
        ]
        rows = extract_document("d1", spans, formats=["docx_para"])
        refs = by_kind(rows, "media_ref")
        assert [(r[3], r[4]) for r in refs] == [("img://a", 0), ("img://b", 1)]
        assert all(r[2] is None for r in refs)

    def test_media_order_independent_of_span_shuffle(self):
        spans = [
            media("img://b", 3),
            page("Second page text ends.", 2),
            media("img://a", 1),
            page("First page text ends.", 0),
        ]
        rows = extract_document("d1", spans, formats=["docx_para"])
        refs = by_kind(rows, "media_ref")
        assert [r[3] for r in refs] == ["img://a", "img://b"]
        # pages ordered by offset before assembly
        paras = by_kind(rows, "docx_para")
        assert paras[0][2].startswith("First page")
        # a null offset leaves no reading order to sort by, alone or not
        for spans in ([page("Lone page.", None)], [page("A.", None), page("B.", 1)]):
            with pytest.raises(ValueError, match="'d1' has a span with a null offset"):
                extract_document("d1", spans, formats=["docx_para"])


class TestMarkdown:
    def test_heading_and_list_blocks(self):
        """Headings get '# '; list items and plain paragraphs stay verbatim."""
        for text, block in [
            ("INTRODUCTION", "# INTRODUCTION"),
            ("• item one", "• item one"),
            ("Plain para.", "Plain para."),
        ]:
            rows = extract_document("d1", [page(text, 0)], formats=["markdown"])
            assert [r[2] for r in by_kind(rows, "markdown")] == [block], text

    def test_markdown_rows(self):
        text = "CHAPTER ONE\nBody text of the chapter ends here."
        rows = extract_document("d1", [page(text, 0)], formats=["markdown"])
        md = by_kind(rows, "markdown")
        assert md[0][2] == "# CHAPTER ONE"


class TestMaxSentences:
    def test_split_flows_through(self):
        text = (
            "Primeira frase. Segunda frase. Terceira frase. "
            "Quarta frase. Quinta frase. Sexta frase. "
            "Sétima frase. Oitava frase. Nona frase. Décima frase."
        )
        rows = extract_document(
            "d1", [page(text, 0)], formats=["docx_para"], max_sentences=5
        )
        assert len(by_kind(rows, "docx_para")) == 2


class TestDeterminism:
    def test_repeat_runs_identical(self):
        spans = [page("Some stable content here.", 0), media("m1", 1)]
        a = extract_document("d9", spans)
        b = extract_document("d9", list(reversed(spans)))
        assert a == b
