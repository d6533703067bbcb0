"""line_dedup keeps the first occurrence of each line in (doc_id,
line_no) order, also for documents with 100,000 lines or more."""

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from pdf2ocr_spark.plans.queries import LINE_TOKS, SQL_LINE_DEDUP, q_line_dedup

N_LINES = 100_001


def _line(i):
    return " ".join([f"w{i}"] + ["a"] * (LINE_TOKS - 1))


def test_line_dedup_keeper_in_long_document(spark, tmp_path):
    # doc 0's last line (line_no 100000) reappears as doc 1's only line:
    # doc 0 keeps it, doc 1 keeps nothing
    text0 = " ".join(_line(i) for i in range(N_LINES))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([0, 1], pa.int64()),
                "text": [text0, _line(N_LINES - 1)],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    expected = [(0, N_LINES, N_LINES, 10000), (1, 1, 0, 0)]

    got = q_line_dedup(spark, str(tmp_path)).orderBy("doc_id").collect()
    assert [tuple(r) for r in got] == expected

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    oracle = con.execute(
        f"SELECT doc_id, n_lines, n_kept, kept_bp FROM ({SQL_LINE_DEDUP}) "
        "ORDER BY doc_id"
    ).fetchall()
    assert oracle == expected
