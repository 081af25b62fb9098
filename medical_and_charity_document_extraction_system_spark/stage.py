"""The Arrow row stage every per-row Python stage runs on.

Each Arrow batch's columns are read once as Python lists, the stage's
own Python code turns them into plain dicts, and
``RecordBatch.from_pylist`` builds the output batch (a key a record
leaves out is NULL). No pandas frame is made on either side: pyspark's
pandas->Arrow conversion of nested columns cost ~4x ``from_pylist``,
and pandas reads naive timestamps in the session time zone.

Degrade policy: with ``on_error``, a row whose function raises becomes
its error record(s), never a task failure (reference
ocr_service.py:154-157, 229-243). A row's records are gathered before
any is kept, so a generator that raises part-way adds nothing.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_batches(
    df: DataFrame, schema: T.StructType | str, records: Callable[..., list[dict]]
) -> DataFrame:
    """``df`` -> ``schema`` rows (a StructType or a DDL string) via
    ``records(*column_lists)``, one Arrow batch at a time; the lists
    follow ``df``'s column order."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = records(*(col.to_pylist() for col in batch.columns))
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def row_records(
    row: Callable[..., Iterable[dict]],
    on_error: Callable[..., Iterable[dict]] | None = None,
) -> Callable[..., list[dict]]:
    """The records function of a per-row stage: ``row(*values)`` gives
    0..n records per input row; with ``on_error``, a row whose ``row``
    raises gives ``on_error(*values, exc)`` instead."""

    def records(*cols) -> list[dict]:
        out: list[dict] = []
        for values in zip(*cols):
            try:
                out += list(row(*values))
            except Exception as exc:
                if on_error is None:
                    raise
                out += on_error(*values, exc)
        return out

    return records


def map_rows(
    df: DataFrame,
    schema: T.StructType | str,
    row: Callable[..., Iterable[dict]],
    on_error: Callable[..., Iterable[dict]] | None = None,
) -> DataFrame:
    """``map_batches`` with a per-row function (see ``row_records``)."""
    return map_batches(df, schema, row_records(row, on_error))
