"""The Arrow row stage every per-row Python stage runs on.

Each Arrow batch's columns are read once as Python lists, the stage's
own Python code turns them into plain dicts, and
``RecordBatch.from_pylist`` builds the output batch (a key a record
leaves out is NULL). No pandas frame is made on either side: pyspark's
pandas->Arrow conversion of nested columns cost ~4x ``from_pylist``,
and pandas reads naive timestamps in the session time zone.

Fusion: a stage whose input is the DataFrame an earlier stage returned
(not cached, not filtered, not re-selected) runs in the SAME
``mapInArrow`` as that stage, over its source. The upstream's output
batches go straight to this stage's records function: projected to
its columns, zoned timestamps put in the session time zone and sliced
to ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, which is
what the JVM would have handed a second stage. A chain of any length
is then one Python worker per task instead of one per stage, and no
batch crosses the JVM between stages; WARC files read by
``sources/warc.read_warc`` are extracted in the task that parses them.

Degrade policy: with ``on_error``, a row whose function raises becomes
its error record(s), never a task failure (reference
ocr_service.py:154-157, 229-243). A row's records are gathered before
any is kept, so a generator that raises part-way adds nothing.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, NamedTuple, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

Batches = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


class _Stage(NamedTuple):
    """What ``map_batches`` leaves on the DataFrame it returns: the
    DataFrame its ``mapInArrow`` reads, the worker function from that
    source's batches to this stage's, and this stage's Arrow schema."""

    source: DataFrame
    run: Batches
    arrow_schema: pa.Schema


_STAGE = "_arrow_stage"


def _in_zone(t: pa.DataType, tz: str) -> pa.DataType:
    """``t`` with every zoned timestamp in ``tz``, at any depth."""
    if pa.types.is_timestamp(t):
        return pa.timestamp(t.unit, tz) if t.tz else t
    if pa.types.is_struct(t):
        return pa.struct([f.with_type(_in_zone(f.type, tz)) for f in t])
    if pa.types.is_map(t):
        return pa.map_(
            t.key_field.with_type(_in_zone(t.key_type, tz)),
            t.item_field.with_type(_in_zone(t.item_type, tz)),
        )
    if pa.types.is_list(t):
        return pa.list_(t.value_field.with_type(_in_zone(t.value_type, tz)))
    return t


def _handoff(df: DataFrame, up: _Stage, columns: Sequence[str]) -> Batches:
    """The upstream's batches as the JVM would hand them to a second
    stage reading ``columns`` of ``df``; plan-time session conf."""
    conf = df.sparkSession.conf
    tz = conf.get("spark.sql.session.timeZone")
    max_rows = int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"))
    columns, upstream = list(columns), up.run
    projected = pa.schema([up.arrow_schema.field(c) for c in columns])
    zoned = pa.schema([f.with_type(_in_zone(f.type, tz)) for f in projected])
    recast = zoned != projected

    def feed(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in upstream(batches):
            batch = batch.select(columns)
            if recast:
                batch = batch.cast(zoned)
            # maxRecordsPerBatch <= 0 means no limit; empty batches go
            # nowhere, as no rows cross the JVM
            step = max_rows if max_rows > 0 else max(batch.num_rows, 1)
            for start in range(0, batch.num_rows, step):
                yield batch.slice(start, step)

    return feed


def map_batches(
    df: DataFrame,
    schema: T.StructType | str,
    records: Callable[..., list[dict]],
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """``df`` -> ``schema`` rows (a StructType or a DDL string) via
    ``records(*column_lists)``, one Arrow batch at a time; the lists
    follow ``columns`` (checked against ``df`` here), else ``df``'s
    column order. Fuses into ``df``'s own stage when ``df`` is an
    uncached ``map_batches`` result (module docstring)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if columns is not None:
        missing = [c for c in columns if c not in df.columns]
        if missing:
            raise ValueError(f"map_batches: no column {missing} in {df.columns}")
    up = vars(df).get(_STAGE)
    if up is None or df.is_cached:
        source, feed = df if columns is None else df.select(*columns), None
    else:
        source, feed = up.source, _handoff(df, up, columns or up.arrow_schema.names)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches if feed is None else feed(batches):
            # no name holds the records while suspended: in a fused
            # chain the next stage runs before this generator resumes
            yield pa.RecordBatch.from_pylist(
                records(*(col.to_pylist() for col in batch.columns)), schema=arrow_schema
            )

    out = source.mapInArrow(run, schema)
    vars(out)[_STAGE] = _Stage(source, run, arrow_schema)
    return out


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
