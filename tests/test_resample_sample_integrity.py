"""Round-5 batch: grid resample + ffill (operators/asof.resample_ffill)
and PPSWOR weighted sampling (operators/sampling.weighted_sample)."""

from datetime import datetime

from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.operators.asof import resample_ffill
from medical_and_charity_document_extraction_system_spark.operators.sampling import (
    weighted_sample,
)

H = 3_600_000_000  # one hour of epoch micros


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )


def test_resample_ffill_carries_last_value(spark):
    ev = _events(
        spark,
        [
            (1, 7, datetime(2024, 1, 1, 0, 30), 10.0),
            (2, 7, datetime(2024, 1, 1, 2, 15), 20.0),
        ],
    )
    out = resample_ffill(ev, step_us=H).orderBy("us").collect()
    # grid: 00:00 (before first event -> NULLs), 01:00, 02:00
    assert len(out) == 3
    assert out[0].r_event_id is None and out[0].r_value is None
    assert out[1].r_value == 10.0  # 01:00 -> last event was 00:30
    assert out[2].r_value == 10.0  # 02:00 -> 02:15 has not happened yet
    # grid point us values are exact hour floors
    assert [r.us % H for r in out] == [0, 0, 0]


def test_resample_ffill_tie_at_grid_point_included(spark):
    # event exactly AT the grid instant is visible at that point
    ev = _events(
        spark,
        [
            (1, 7, datetime(2024, 1, 1, 0, 0), 5.0),
            (2, 7, datetime(2024, 1, 1, 1, 0), 6.0),
        ],
    )
    out = resample_ffill(ev, step_us=H).orderBy("us").collect()
    assert [r.r_value for r in out] == [5.0, 6.0]


def test_weighted_sample_is_weight_proportional_and_stable(spark):
    docs = spark.createDataFrame(
        [(i, (i % 4) * 400 + 100) for i in range(200)],
        "doc_id long, n_chars long",
    )
    a = weighted_sample(docs, F.expr("n_chars div 200"), k=20).collect()
    b = weighted_sample(docs, F.expr("n_chars div 200"), k=20).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # rerun-identical
    assert len(a) == 20
    # heavier docs (weight 6) must outnumber weight-1 docs in the sample
    weights = [r.weight for r in a]
    assert weights.count(6) > weights.count(1)
    # clamping: every weight within [1, 16]
    assert all(1 <= w <= 16 for w in weights)


def test_weighted_sample_zero_weight_clamps_to_one(spark):
    docs = spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, n_chars long")
    rows = weighted_sample(docs, F.expr("n_chars div 200"), k=5).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]
    assert all(r.weight == 1 for r in rows)


