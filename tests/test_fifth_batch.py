"""Fifth continuation batch: time-range rolling frames, AMS F2 sketch,
positional phrase search, stream-static enrichment."""

from datetime import datetime, timedelta

import pyspark.sql.functions as F

# ---------------------------------------------------------------- rolling


_T0 = datetime(2024, 3, 1)


def _ev(spark, rows):
    # rows: (event_id, user, minute_offset, value)
    data = [
        (e, _T0 + timedelta(minutes=m), u, "view", v) for (e, u, m, v) in rows
    ]
    return spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def test_time_range_frame_contents(spark):
    from medical_and_charity_document_extraction_system_spark.operators.rolling import (
        rolling_time_stats,
    )

    rows = [
        (1, 1, 0, 1.0),
        (2, 1, 30, 2.0),
        (3, 1, 61, 4.0),  # event 1 (61 min ago) fell out of the hour
        (4, 2, 0, 8.0),  # other user: frames never cross keys
    ]
    out = {
        r.event_id: (r.n_window, r.win_sum)
        for r in rolling_time_stats(_ev(spark, rows)).collect()
    }
    assert out == {
        1: (1, 1.0),
        2: (2, 3.0),
        3: (2, 6.0),
        4: (1, 8.0),
    }


def test_equal_timestamps_are_frame_peers(spark):
    # RANGE frame: rows sharing a timestamp see each OTHER — both get
    # the full peer-group aggregate, regardless of input order.
    from medical_and_charity_document_extraction_system_spark.operators.rolling import (
        rolling_time_stats,
    )

    rows = [(12, 1, 5, 2.0), (11, 1, 5, 1.0)]
    out = {
        r.event_id: (r.n_window, r.win_sum)
        for r in rolling_time_stats(_ev(spark, rows)).collect()
    }
    assert out == {11: (2, 3.0), 12: (2, 3.0)}


# ---------------------------------------------------------------- ams


def _terms(spark, pairs):
    return spark.createDataFrame(pairs, "term string, cnt long")


def test_ams_merge_equals_one_shot(spark):
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_registers,
        merge_ams_registers,
    )

    pairs = [(f"t{i}", (i % 7) + 1) for i in range(40)]
    one = {
        r.r: r.reg for r in ams_registers(_terms(spark, pairs)).collect()
    }
    halves = [
        ams_registers(_terms(spark, pairs[:20])),
        ams_registers(_terms(spark, pairs[20:])),
    ]
    merged = {
        r.r: r.reg for r in merge_ams_registers(*halves).collect()
    }
    assert merged == one
    assert len(one) == 64


def test_ams_raw_rows_equal_preaggregated_counts(spark):
    # addition commutes: 5 rows of count 1 == one row of count 5
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_registers,
    )

    raw = _terms(spark, [("w", 1)] * 5 + [("v", 1)] * 2)
    agg = _terms(spark, [("w", 5), ("v", 2)])
    assert {r.r: r.reg for r in ams_registers(raw).collect()} == {
        r.r: r.reg for r in ams_registers(agg).collect()
    }


def test_ams_estimate_within_error_bounds(spark):
    # stderr of the R-register mean ~ F2 * sqrt(2/R) = 17.7%; allow
    # 4 sigma on one deterministic draw.
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        ams_f2_report,
        ams_registers,
    )

    pairs = [(f"t{i}", (i % 13) + 1) for i in range(300)]
    tc = _terms(spark, pairs)
    r = ams_f2_report(ams_registers(tc), tc).collect()[0]
    assert r.f2_exact == sum((i % 13 + 1) ** 2 for i in range(300))
    assert abs(r.f2_estimate - r.f2_exact) / r.f2_exact < 0.71
    assert r.err_bp == abs(r.f2_estimate - r.f2_exact) * 10000 // r.f2_exact


# ---------------------------------------------------------------- phrase


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_overlapping_self_repeats(spark):
    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    docs = _docs(
        spark,
        [
            (1, "x x x y"),  # starts at 0 and 1 -> 2 overlapping matches
            (2, "x y x"),  # never adjacent -> absent
            (3, "a x x b x x"),  # 2 separate matches
        ],
    )
    out = {
        r.doc_id: r.n_matches
        for r in phrase_match(docs, phrase=("x", "x")).collect()
    }
    assert out == {1: 2, 3: 2}


def test_phrase_three_terms_and_position_alignment(spark):
    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    docs = _docs(
        spark,
        [
            (1, "the quick fox jumps"),
            (2, "quick the fox"),  # all terms present, wrong order
            (3, "pad the quick fox"),  # shifted start still matches
        ],
    )
    out = {
        r.doc_id: r.n_matches
        for r in phrase_match(docs, phrase=("the", "quick", "fox")).collect()
    }
    assert out == {1: 1, 3: 1}


def test_phrase_needs_two_terms(spark):
    import pytest

    from medical_and_charity_document_extraction_system_spark.operators.index import phrase_match

    with pytest.raises(ValueError):
        phrase_match(_docs(spark, [(1, "a")]), phrase=("a",))


# ---------------------------------------------------------------- stream


def test_enriched_stream_matches_one_shot_batch_join(spark, tmp_path):
    from medical_and_charity_document_extraction_system_spark.streaming import (
        enriched_events_stream,
        read_enriched_totals,
        user_tier_dim,
    )

    # users with 80/65/40 events -> tiers 2/1/0 (dim thresholds)
    rows = []
    eid = 0
    for u, n in ((1, 80), (2, 65), (3, 40)):
        for i in range(n):
            rows.append(
                (
                    eid,
                    _T0 + timedelta(minutes=i),
                    u,
                    "view" if i % 2 else "click",
                    float(i),
                )
            )
            eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    dim = user_tier_dim(events)
    assert {r.user_id: r.tier for r in dim.collect()} == {1: 2, 2: 1, 3: 0}

    inp, out, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    events.repartition(6).write.parquet(inp)
    enriched_events_stream(
        spark, inp, dim, out, ck, max_files_per_trigger=2
    ).awaitTermination()
    import glob

    assert len(glob.glob(f"{out}/epoch_*")) >= 2  # genuinely incremental
    merged = {
        (r.tier, r.event_type): (r.n_events, r.total_value)
        for r in read_enriched_totals(spark, out).collect()
    }
    one_shot = {
        (r.tier, r.event_type): (r.n_events, r.total_value)
        for r in events.join(dim, "user_id")
        .groupBy("tier", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert merged == one_shot


def test_stream_stream_join_equals_batch_range_join(spark, tmp_path):
    from medical_and_charity_document_extraction_system_spark.streaming import (
        read_stream_join_pairs,
        stream_stream_click_attribution,
    )

    # user 1: error at t0, clicks at +10min (in), +29min (in, edge),
    # +31min (out), and a click BEFORE the error (out); user 2's
    # click never joins user 1's error
    rows = [
        (1, _T0, 1, "error", 0.0),
        (2, _T0 + timedelta(minutes=10), 1, "click", 0.0),
        (3, _T0 + timedelta(minutes=29), 1, "click", 0.0),
        (4, _T0 + timedelta(minutes=31), 1, "click", 0.0),
        (5, _T0 - timedelta(minutes=5), 1, "click", 0.0),
        (6, _T0 + timedelta(minutes=10), 2, "click", 0.0),
        (7, _T0 + timedelta(hours=2), 1, "error", 0.0),
        (8, _T0 + timedelta(hours=2, minutes=5), 1, "click", 0.0),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    inp, out, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    events.repartition(6).write.parquet(inp)
    stream_stream_click_attribution(
        spark, inp, out, ck, max_files_per_trigger=2
    ).awaitTermination()
    got = {
        (r.click_id, r.error_id)
        for r in read_stream_join_pairs(spark, out).collect()
    }
    assert got == {(2, 1), (3, 1), (8, 7)}
