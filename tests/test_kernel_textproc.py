"""Kernel unit tests: golden cases ported from the reference test suite
(/root/reference/tests/test_common.py — file:line cited per case). Pure
Python, no SparkSession needed.
"""

import sys

from pdf2ocr_spark.kernel.textproc import (
    UNICODE_WHITESPACE,
    clean_portuguese_charset,
    reassemble_paragraphs,
    rebuild_paragraphs,
    repair_ligatures,
    split_paragraph_by_sentences,
    strip_boilerplate_lines,
)


def paras(result: str):
    return [p.strip() for p in result.split("\n\n") if p.strip()]


class TestRebuildParagraphs:
    # ref tests/test_common.py:12-21
    def test_blank_line_after_sentence_end_breaks(self):
        text = (
            "This is the first paragraph that talks about the creation and nature of\n"
            "all things in our world. It ends here with a final sentence.\n"
            "\n"
            "This is the second paragraph which starts after a blank line and should be separate."
        )
        assert len(paras(rebuild_paragraphs(text))) == 2

    # ref tests/test_common.py:23-34
    def test_blank_line_mid_sentence_is_noise(self):
        text = (
            "a criação aberta e que a sua consumação consiste em vir a ser átria e\n"
            "\n"
            "moradia da glória de Deus. Já aqui na história, pessoas experimentam."
        )
        out = paras(rebuild_paragraphs(text))
        assert len(out) == 1
        assert "e moradia" in out[0]

    # ref tests/test_common.py:37-45
    def test_sentence_end_then_capital_breaks(self):
        text = (
            "This is a long line that fills most of the average width of a typical document page extracted.\n"
            "End of section.\n"
            "Beginning of new section with a capital letter and long content that continues."
        )
        assert len(paras(rebuild_paragraphs(text))) >= 2

    # ref tests/test_common.py:47-52
    def test_bullet_items_break(self):
        text = "Introduction text here.\n• First item\n• Second item\n- Third item"
        out = paras(rebuild_paragraphs(text))
        assert any("First item" in p for p in out)
        assert any("Second item" in p for p in out)

    # ref tests/test_common.py:54-59
    def test_numbered_items_break(self):
        text = "Some context here.\n1. First point\n2. Second point"
        out = paras(rebuild_paragraphs(text))
        assert any("1." in p for p in out)
        assert any("2." in p for p in out)

    # ref tests/test_common.py:61-66
    def test_empty_and_whitespace(self):
        assert rebuild_paragraphs("") == ""
        assert rebuild_paragraphs("   \n   \n   ").strip() == ""

    # ref tests/test_common.py:68-71
    def test_single_line(self):
        assert rebuild_paragraphs("Just one line.").strip() == "Just one line."

    # ref tests/test_common.py:73-83
    def test_consecutive_lines_merge(self):
        text = (
            "This is a long line that represents the first part of a paragraph in a PDF\n"
            "document and this is another long line that continues the same paragraph\n"
            "extracted from the PDF source file without any sentence endings."
        )
        assert len(paras(rebuild_paragraphs(text))) == 1

    # ref tests/test_common.py:85-94
    def test_sentence_uppercase_boundary(self):
        text = (
            "This is the end of the first paragraph about creation.\n"
            "This is the start of a new paragraph about something else entirely."
        )
        assert len(paras(rebuild_paragraphs(text))) == 2

    # ref tests/test_common.py:96-99
    def test_page_number_lines_dropped(self):
        text = "Some content here that continues for\n42\na while longer."
        assert "42" not in rebuild_paragraphs(text)

    # ref tests/test_common.py:101-109
    def test_heading_stands_alone(self):
        text = (
            "End of previous section content.\n"
            "INTRODUCTION\n"
            "This is the beginning of a new section that starts here."
        )
        out = paras(rebuild_paragraphs(text))
        assert "INTRODUCTION" in out
        assert len(out) == 3

    # ref tests/test_common.py:111-116
    def test_ligatures_repaired(self):
        out = rebuild_paragraphs("A efi cácia da refl exão fi losófi ca.")
        assert "eficácia" in out
        assert "reflexão" in out
        assert "filosófica" in out

    # ref tests/test_common.py:118-128
    def test_self_headers_stripped(self):
        text = (
            "pdf2ocr - Page 4\n"
            "doutrina cristã da criação é uma concepção de mundo à luz\n"
            "do messias Jesus e sob os aspectos do tempo messiânico."
        )
        out = rebuild_paragraphs(text)
        assert "pdf2ocr" not in out
        assert "doutrina cristã" in out


class TestRepairLigatures:
    def test_unicode_codepoints(self):
        assert repair_ligatures("eﬁcaz aﬂição oﬀset") == "eficaz aflição offset"
        assert repair_ligatures("diﬃculdade aﬄito") == "difficuldade afflito"

    def test_split_only_before_lowercase(self):
        # "fi " before uppercase/number is NOT a split ligature
        assert repair_ligatures("fi Fulano") == "fi Fulano"
        assert repair_ligatures("fi 42") == "fi 42"
        assert repair_ligatures("fi losofia") == "filosofia"


class TestStripBoilerplate:
    # ref tests/test_common.py:133-142
    def test_removes_repeated_headers(self):
        pages = [
            "Journal of Science\nActual content page one.\nPage 1",
            "Journal of Science\nActual content page two.\nPage 2",
            "Journal of Science\nActual content page three.\nPage 3",
            "Journal of Science\nActual content page four.\nPage 4",
        ]
        for page in strip_boilerplate_lines(pages):
            assert "Journal of Science" not in page

    # ref tests/test_common.py:144-153
    def test_preserves_unique_content(self):
        pages = [
            "Header\nUnique content A.\nFooter",
            "Header\nUnique content B.\nFooter",
            "Header\nUnique content C.\nFooter",
        ]
        out = strip_boilerplate_lines(pages)
        assert any("Unique content A" in p for p in out)
        assert any("Unique content B" in p for p in out)
        assert any("Unique content C" in p for p in out)
        for page in out:
            assert "Header" not in page and "Footer" not in page

    # ref tests/test_common.py:155-158
    def test_short_documents_untouched(self):
        pages = ["Page one content.", "Page two content."]
        assert strip_boilerplate_lines(pages) == pages

    # ref tests/test_common.py:160-167
    def test_no_repeats_noop(self):
        pages = [
            "Unique header A\nContent A.",
            "Unique header B\nContent B.",
            "Unique header C\nContent C.",
        ]
        assert strip_boilerplate_lines(pages) == pages

    # ref tests/test_common.py:169-170
    def test_empty(self):
        assert strip_boilerplate_lines([]) == []

    def test_sixty_percent_threshold(self):
        # repeated on 3 of 5 pages = 60% -> stripped (>= threshold)
        pages = ["Hdr\nbody %d." % i if i < 3 else "body %d." % i for i in range(5)]
        out = strip_boilerplate_lines(pages)
        assert all("Hdr" not in p for p in out)
        # repeated on 2 of 5 pages = 40% -> kept
        pages = ["Hdr\nbody %d." % i if i < 2 else "body %d." % i for i in range(5)]
        out = strip_boilerplate_lines(pages)
        assert any("Hdr" in p for p in out)


class TestReassembleParagraphs:
    # ref tests/test_common.py:175-185
    def test_basic_split(self):
        text = (
            "This is the first paragraph that talks about the creation and nature of\n"
            "all things in our world. It ends here.\n"
            "\n"
            "This is the second paragraph which starts after a blank line."
        )
        out = reassemble_paragraphs(text)
        assert len(out) == 2
        assert "first paragraph" in out[0]
        assert "second paragraph" in out[1]

    # ref tests/test_common.py:187-190
    def test_list_input(self):
        assert len(reassemble_paragraphs(["Page one text.", "Page two text."])) >= 2

    # ref tests/test_common.py:192-194
    def test_empty(self):
        assert reassemble_paragraphs("") == []
        assert reassemble_paragraphs([]) == []

    # ref tests/test_common.py:196-205
    def test_max_sentences_splits(self):
        text = (
            "Primeira frase. Segunda frase. Terceira frase. "
            "Quarta frase. Quinta frase. Sexta frase. "
            "Sétima frase. Oitava frase. Nona frase. Décima frase."
        )
        out = reassemble_paragraphs(text, max_sentences=5)
        assert len(out) == 2
        assert "Primeira" in out[0]
        assert "Sexta" in out[1]

    # ref tests/test_common.py:207-213
    def test_max_sentences_none_keeps_whole(self):
        text = (
            "Primeira frase. Segunda frase. Terceira frase. "
            "Quarta frase. Quinta frase. Sexta frase."
        )
        assert len(reassemble_paragraphs(text, max_sentences=None)) == 1

    # ref tests/test_common.py:215-218
    def test_max_sentences_short_untouched(self):
        assert len(reassemble_paragraphs("Uma frase. Duas frases. Três frases.", max_sentences=5)) == 1

    def test_crlf_normalized(self):
        out = reassemble_paragraphs("First line.\r\n\r\nSecond block starts here.")
        assert len(out) == 2


class TestSentenceSplit:
    def test_ellipsis_boundary(self):
        out = split_paragraph_by_sentences("One… Two… Three… Four…", 2)
        assert len(out) == 2

    def test_no_split_needed(self):
        assert split_paragraph_by_sentences("A. B.", 5) == ["A. B."]


class TestPortugueseClean:
    # ref pdf2ocr/ocr.py:225-241 + FIXTURES.md pt-clean
    def test_strips_disallowed(self):
        assert clean_portuguese_charset("custa € 5, ße disse") == "custa  5, e disse"

    def test_keeps_accents_and_punct(self):
        s = "Ação, coração; (não) [sim] {x} - \"ok\" 'fim'!?"
        assert clean_portuguese_charset(s) == s

    def test_whitespace_constant_is_every_isspace_character(self):
        """The literal class the kernel and the SQL allowlist share is
        Python's Unicode ``\\s``: every code point with ``isspace()``."""
        scan = "".join(c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())
        assert UNICODE_WHITESPACE == scan
