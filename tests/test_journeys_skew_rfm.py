"""Path trigrams, time-weighted means, SCD2 intervals, drift audit."""

from datetime import datetime, timedelta

from medical_and_charity_document_extraction_system_spark.operators.eventstats import (
    path_trigrams,
)

_T0 = datetime(2024, 3, 1)


def _ev(spark, rows):
    # (event_id, user, minute, type)
    return spark.createDataFrame(
        [(e, _T0 + timedelta(minutes=m), u, t, 0.0) for e, u, m, t in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def test_path_trigrams_window_order_and_key_isolation(spark):
    rows = [
        (1, 1, 0, "a"),
        (2, 1, 1, "b"),
        (3, 1, 2, "c"),
        (4, 1, 3, "d"),  # user 1: abc, bcd
        (5, 2, 0, "x"),
        (6, 2, 1, "y"),  # user 2: too short, no trigram
    ]
    out = {
        (r.t1, r.t2, r.t3): (r.n_paths, r.share_bp)
        for r in path_trigrams(_ev(spark, rows)).collect()
    }
    assert out == {("a", "b", "c"): (1, 5000), ("b", "c", "d"): (1, 5000)}


def test_path_trigrams_tiebreak_by_event_id(spark):
    # same timestamp: order is (us, event_id), so the sequence is a,b,c
    rows = [(3, 1, 5, "c"), (1, 1, 5, "a"), (2, 1, 5, "b")]
    out = [
        (r.t1, r.t2, r.t3)
        for r in path_trigrams(_ev(spark, rows)).collect()
    ]
    assert out == [("a", "b", "c")]


def test_time_weighted_mean_staircase(spark):
    from medical_and_charity_document_extraction_system_spark.operators.eventstats import (
        time_weighted_means,
    )

    # user 1: value 10.00 held 60s, then 20.00 held 180s ->
    # twap = (10*60 + 20*180) / 240 = 17.50; last event weightless.
    # user 2: single event -> drops out entirely.
    rows = [
        (1, 1, 0, "view", 10.0),
        (2, 1, 1, "view", 20.0),
        (3, 1, 4, "view", 99.0),
        (4, 2, 0, "view", 5.0),
    ]
    out = time_weighted_means(_ev2(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.n_segments, r.span_s) == (1, 2, 240)
    assert r.wsum_cents_s == 1000 * 60 + 2000 * 180
    assert r.twap == (1000 * 60 + 2000 * 180) / (240 * 100)


def test_time_weighted_mean_tiebreak_and_subsecond(spark):
    from datetime import timedelta

    from medical_and_charity_document_extraction_system_spark.operators.eventstats import (
        time_weighted_means,
    )

    # two events in the SAME second (dt_s = 0 segment), then +60s:
    # the zero-weight segment still counts as a segment but adds no
    # mass; frame order is (us, event_id)
    data = [
        (2, _T0 + timedelta(milliseconds=500), 1, "v", 50.0),
        (1, _T0, 1, "v", 10.0),
        (3, _T0 + timedelta(seconds=60), 1, "v", 7.0),
    ]
    df = spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    r = time_weighted_means(df).collect()[0]
    assert (r.n_segments, r.span_s) == (2, 59)  # 0s + floor(59.5s)
    assert r.wsum_cents_s == 5000 * 59


def _ev2(spark, rows):
    from datetime import timedelta

    return spark.createDataFrame(
        [
            (e, _T0 + timedelta(minutes=m), u, t, v)
            for (e, u, m, t, v) in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def test_personalized_pagerank_mass_stays_near_seed(spark):
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        pagerank_fixed,
        pagerank_personalized,
    )

    # a -> b -> c chain plus a disconnected d <-> e pair
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("e", "d")],
        "src string, dst string",
    )
    ppr = {
        r.node: r.rank_units
        for r in pagerank_personalized(edges, seed="a", iterations=4).collect()
    }
    # unreachable-from-seed nodes end with exactly zero mass
    assert ppr["d"] == 0 and ppr["e"] == 0
    assert ppr["a"] > ppr["b"] > 0 and ppr["b"] > ppr["c"] > 0
    # global pagerank gives d/e nonzero mass — the seeding is real
    gpr = {
        r.node: r.rank_units
        for r in pagerank_fixed(edges, iterations=4).collect()
    }
    assert gpr["d"] > 0 and gpr["e"] > 0


def test_scd2_intervals_compress_runs(spark):
    from medical_and_charity_document_extraction_system_spark.operators.eventstats import (
        scd2_intervals,
    )

    rows = [
        (1, 1, 0, "a"), (2, 1, 1, "a"), (3, 1, 2, "b"),
        (4, 1, 3, "b"), (5, 1, 4, "a"),  # a-run, b-run, a again
        (6, 2, 0, "x"),
    ]
    out = sorted(
        (r.user_id, r.attr, r.valid_from_us, r.valid_to_us)
        for r in scd2_intervals(_ev(spark, rows)).collect()
    )
    m = 60_000_000
    t0 = 1_709_251_200_000_000  # 2024-03-01 UTC epoch micros
    assert out == [
        (1, "a", t0, t0 + 2 * m),
        (1, "a", t0 + 4 * m, None),  # current run stays open
        (1, "b", t0 + 2 * m, t0 + 4 * m),
        (2, "x", t0, None),
    ]


def test_drift_report_detects_shift_and_new_category(spark):
    from datetime import datetime, timedelta

    from medical_and_charity_document_extraction_system_spark.operators.eventstats import (
        drift_report,
    )

    ref_t, cur_t = datetime(2024, 1, 2), datetime(2024, 1, 20)
    rows = (
        [(i, ref_t + timedelta(seconds=i), 1, "steady", 0.0) for i in range(50)]
        + [(100 + i, cur_t + timedelta(seconds=i), 1, "steady", 0.0) for i in range(50)]
        + [(200 + i, ref_t, 1, "fading", 0.0) for i in range(50)]
        + [(300 + i, cur_t, 1, "fading", 0.0) for i in range(10)]
        + [(400 + i, cur_t, 1, "brand_new", 0.0) for i in range(40)]
    )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    out = {
        r.category: (r.n_ref, r.n_cur, r.chi2_contrib_bp)
        for r in drift_report(df).collect()
    }
    assert out["brand_new"] == (0, 40, -1)  # new category flags, no /0
    assert out["fading"][2] > out["steady"][2] >= 0
    # hand-check the split-division arithmetic for one bin
    n_ref, n_cur, tot_ref, tot_cur = 50, 50, 100, 100
    d = abs(n_cur * tot_ref - n_ref * tot_cur)
    assert out["steady"][2] == (d * 100 // tot_ref) * (d * 100 // tot_cur) // n_ref
