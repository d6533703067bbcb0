"""The row-local queries: each runs one ``MapInArrow`` stage above the
scan's round-robin fan-out, and, with the line-based queries next to
them, matches its DuckDB oracle on documents at the edges of the shared
line spec (empty, 1 word, empty words, page boundaries, repetition)."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_extraction_plans import python_nodes
from test_oracle_parity import normalize

from pdf2ocr_spark.kernel.textproc import clean_portuguese_charset
from pdf2ocr_spark.plans import ORACLE_SQL, QUERIES

PER_DOCUMENT = [
    "page_number_filter",
    "line_predicates",
    "heading_detect",
    "boilerplate_strip",
    "quality_repetition",
]

WORDS = "spark join scan table merge row key sort part data".split()


def _words(n):
    return " ".join(WORDS[i % len(WORDS)] for i in range(n))


EDGE_TEXTS = [
    "",
    "alpha",
    "a  b",
    _words(20),
    _words(21),
    _words(60),
    " ".join(["to be"] * 40),
    "1 22 333 4444 55555 6 77 888 9999 10 11",
    "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN AND AGAIN",
    "1. intro 2) setup - dash • item pdf2ocr - Page 3 7",
]


@pytest.mark.parametrize("name", PER_DOCUMENT)
def test_per_document_query_runs_one_map_in_arrow_above_the_fan_out(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString().splitlines()
    exchanges = [i for i, line in enumerate(plan) if "Exchange " in line]
    assert len(exchanges) == 1, "\n".join(plan)
    assert "RoundRobinPartitioning" in plan[exchanges[0]]
    assert any("MapInArrow" in line for line in plan[: exchanges[0]]), "\n".join(plan)
    nodes = python_nodes(spark, lambda: df.write.format("noop").mode("overwrite").save())
    assert nodes == ["MapInArrow"]


#: whitespace the pt allowlist must treat alike on Spark (Java regex) and
#: DuckDB (RE2): ``\s`` is ``[ \t\n\x0b\f\r]`` in one, ``[ \t\n\f\r]`` in the other
PT_TEXTS = [
    "a b\x0bc d\x1ce",
    "não\xa0há\tespaço\u2003aqui",
    "\x0b\xa0\t\u2003",
]


def _documents_dir(sf_dir, tmp_path_factory, texts, lang):
    """A ``documents`` table of ``texts`` in the fixture's schema."""
    schema = pq.read_schema(f"{sf_dir}/documents.parquet").remove_metadata()
    out = tmp_path_factory.mktemp("documents")
    rows = {
        "doc_id": list(range(len(texts))),
        "text": texts,
        "lang": [lang] * len(texts),
        "source": [f"src{i % 3}" for i in range(len(texts))],
        "n_chars": [len(t) for t in texts],
    }
    pq.write_table(pa.table(rows, schema=schema), out / "documents.parquet")
    return str(out)


@pytest.fixture(scope="module")
def edge_dir(sf_dir, tmp_path_factory):
    return _documents_dir(sf_dir, tmp_path_factory, EDGE_TEXTS, "en")


def _assert_matches_oracle(spark, name, docs_dir):
    spark_df = QUERIES[name](spark, docs_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
    oracle_df = con.execute(ORACLE_SQL[name]).df()
    assert normalize(spark_df) == normalize(oracle_df)
    assert {c: k.kind for c, k in spark_df.dtypes.items()} == {
        c: k.kind for c, k in oracle_df.dtypes.items()
    }


@pytest.mark.parametrize("name", PER_DOCUMENT + ["doc_chunks", "line_dedup"])
def test_edge_documents_match_the_oracle(name, spark, edge_dir):
    _assert_matches_oracle(spark, name, edge_dir)


def test_pt_clean_whitespace_matches_the_oracle(spark, sf_dir, tmp_path_factory):
    """Spark, DuckDB and the extraction kernel's ``lang="por"`` clean keep
    the same whitespace."""
    docs_dir = _documents_dir(sf_dir, tmp_path_factory, PT_TEXTS, "pt")
    _assert_matches_oracle(spark, "pt_clean", docs_dir)
    rows = QUERIES["pt_clean"](spark, docs_dir).collect()
    assert {r.doc_id: r.clean_text for r in rows} == {
        i: clean_portuguese_charset(t) for i, t in enumerate(PT_TEXTS)
    }
