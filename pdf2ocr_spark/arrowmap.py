"""One Arrow row map: every Python stage in ``operators/`` and ``plans/``
runs as ``mapInArrow`` and builds its output batches here."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def arrow_schema(schema) -> pa.Schema:
    """The Arrow schema of a Spark ``StructType`` or DDL string."""
    return to_arrow_schema(StructType.fromDDL(schema) if isinstance(schema, str) else schema)


def record_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    """``rows`` (tuples in ``schema``'s field order) as one RecordBatch."""
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = [pa.array(c, f.type) for c, f in zip(cols, schema)]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def map_rows(df: DataFrame, schema, fn) -> DataFrame:
    """``df``'s rows -> ``schema`` rows in one ``mapInArrow`` stage:
    ``fn(*row)`` gets one row's values as Python objects (a struct is a
    dict) and returns an iterable of zero, one or many output tuples."""
    arrow = arrow_schema(schema)

    def run(batches):
        for batch in batches:
            cols = [c.to_pylist() for c in batch.columns]
            yield record_batch([out for row in zip(*cols) for out in fn(*row)], arrow)

    return df.mapInArrow(run, schema)
