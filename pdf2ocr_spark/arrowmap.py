"""One Arrow idiom: every Python stage in the package (``streaming/``'s
stateful ``applyInPandasWithState`` aside) runs as ``mapInArrow`` or
``applyInArrow`` and builds its output batches here."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def arrow_schema(schema) -> pa.Schema:
    """The Arrow schema of a Spark ``StructType`` or DDL string."""
    return to_arrow_schema(StructType.fromDDL(schema) if isinstance(schema, str) else schema)


def column_batch(cols: list, schema: pa.Schema) -> pa.RecordBatch:
    """Whole columns (in ``schema``'s field order) as one RecordBatch.
    A column is anything ``pa.array`` takes, or a 2-D numpy array that
    fills a list column one matrix row per output row."""
    arrays = [
        pa.ListArray.from_arrays(
            pa.array(np.arange(len(c) + 1, dtype=np.int32) * c.shape[1]),
            pa.array(c.ravel(), f.type.value_type),
            type=f.type,
        )
        if isinstance(c, np.ndarray) and c.ndim == 2
        else pa.array(c, f.type)
        for c, f in zip(cols, schema)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def record_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    """``rows`` (tuples in ``schema``'s field order) as one RecordBatch."""
    return column_batch(list(zip(*rows)) or [()] * len(schema), schema)


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
