"""The Arrow row stage (stage.py): the records function without Spark,
an empty input through Spark, and stage fusion."""

import contextlib
import datetime

import pyarrow as pa
import pytest

from pyspark.sql import types as T

from medical_and_charity_document_extraction_system_spark.stage import (
    map_batches,
    map_rows,
    row_records,
)

from .test_plans import plan_of


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


@contextlib.contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _chain(spark, cache_upstream: bool):
    """source -> fan-out stage (error rows, NULL keys, timestamps, also
    inside a list of structs and a map) -> per-row stage -> a stage
    reading three columns in its own order that also reports each
    batch's size."""

    def fan_out(i):
        if i % 7 == 3:
            raise ValueError(f"bad {i}")
        for j in range(i % 4):
            ts = datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=i)
            yield {
                "k": None if i % 5 == 0 else f"k{i}",
                "n": i * 10 + j,
                "ts": ts,
                "seen": [{"at": ts}],
                "tags": [("t", ts)],
            }

    up = map_rows(
        spark.range(0, 60, 1, 3),
        "k string, n long, ts timestamp, seen array<struct<at: timestamp>>,"
        " tags map<string, timestamp>, error string",
        fan_out,
        lambda i, exc: [{"n": -i, "error": str(exc)}],
    )
    if cache_upstream:
        up = up.cache()
    # the timestamps as text keep their zone: the instant alone would
    # hide a zone mismatch
    def as_text(k, n, ts, seen, tags, error):
        if ts is not None:
            # the nested copies must read exactly as the column does
            assert seen[0]["at"].isoformat() == dict(tags)["t"].isoformat() == ts.isoformat()
        yield {"k": k, "n": n, "ts": ts and ts.isoformat(), "error": error}

    mid = map_rows(up, "k string, n long, ts string, error string", as_text)
    out = map_batches(
        mid,
        "line string, batch_rows int",
        lambda ts, k, n: [
            {"line": f"{k}|{t}|{x}", "batch_rows": len(n)} for k, t, x in zip(k, ts, n)
        ],
        columns=["ts", "k", "n"],
    )
    return out, up


def test_fused_chain_equals_the_chain_over_a_cached_upstream(spark):
    with _conf(
        spark,
        **{
            "spark.sql.session.timeZone": "America/New_York",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "4",
        },
    ):
        fused, _ = _chain(spark, cache_upstream=False)
        split, cached = _chain(spark, cache_upstream=True)
        # three stages, one mapInArrow; over the cached upstream only
        # the two stages after it fuse
        assert plan_of(fused, "simple").count("MapInArrow") == 1
        assert "InMemoryRelation" in plan_of(split, "simple")
        got, want = fused.collect(), split.collect()
        cached.unpersist()
    # batch boundaries may differ: the JVM packs rows across upstream
    # batches, the fused stage only slices them
    lines = [r.line for r in got]
    assert sorted(lines) == sorted(r.line for r in want)
    assert "k1|2026-01-01T01:00:00+00:00|10" not in lines  # not left in UTC
    assert "k1|2025-12-31T20:00:00-05:00|10" in lines
    assert "None|None|-3" in lines  # the on_error row
    assert "None|2026-01-01T00:00:00-05:00|50" in lines  # a NULL key
    assert len(lines) == sum(i % 4 for i in range(60) if i % 7 != 3) + 9
    assert max(r.batch_rows for r in got + want) <= 4


def test_map_batches_checks_column_names(spark):
    up = map_rows(spark.range(1), "a long", lambda i: [{"a": i}])
    with pytest.raises(ValueError, match="nope"):
        map_batches(up, "a long", lambda a: [], columns=["a", "nope"])
    # a filtered upstream is a plain input: it does not fuse
    kept = up.filter("a >= 0")
    out = map_batches(kept, "b long", lambda a: [{"b": x + 1} for x in a], columns=["a"])
    assert plan_of(out, "simple").count("MapInArrow") == 2
    assert out.collect()[0].b == 1
