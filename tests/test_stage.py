"""The Arrow row stage (stage.py): the records function without Spark,
and an empty input through Spark."""

import pyarrow as pa
import pytest

from pyspark.sql import types as T

from medical_and_charity_document_extraction_system_spark.stage import (
    map_rows,
    row_records,
)


def test_row_records_fan_out_errors_and_missing_keys():
    def row(n, tag):
        if n < 0:
            raise ValueError(f"negative {n}")
        for i in range(n):
            if tag == "boom" and i == 1:
                raise RuntimeError("part-way")
            yield {"tag": tag, "i": i}

    def on_error(n, tag, exc):
        return [{"tag": tag, "error": str(exc)}]

    out = row_records(row, on_error)([0, 1, 3, -1, 2], ["zero", "one", "three", "neg", "boom"])
    assert out == [
        # "zero" gives no record
        {"tag": "one", "i": 0},
        {"tag": "three", "i": 0},
        {"tag": "three", "i": 1},
        {"tag": "three", "i": 2},
        {"tag": "neg", "error": "negative -1"},
        # the generator raised after one record: only the error record
        {"tag": "boom", "error": "part-way"},
    ]
    # a key a record leaves out is NULL in the batch
    schema = pa.schema([("tag", pa.string()), ("i", pa.int64()), ("error", pa.string())])
    cols = pa.RecordBatch.from_pylist(out, schema=schema).to_pydict()
    assert cols["i"] == [0, 0, 1, 2, None, None]
    assert cols["error"] == [None, None, None, None, "negative -1", "part-way"]
    # without on_error a raising row fails the batch
    with pytest.raises(ValueError, match="negative -1"):
        row_records(row)([-1], ["neg"])


def test_map_rows_empty_input_keeps_schema(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("error", T.StringType(), True),
        ]
    )
    out = map_rows(spark.range(0), schema, lambda i: [{"id": i}])
    assert out.schema == schema
    assert out.collect() == []
