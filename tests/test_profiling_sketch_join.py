"""The interval-x-interval overlap join (operators/rangejoin.py)."""


def _iv(spark, rows, side):
    pre = "l" if side == "l" else "r"
    return spark.createDataFrame(
        rows, f"user_id long, {side}_id long, {pre}_start_us long, {pre}_end_us long"
    )


def test_interval_overlap_exactly_once_across_bins(spark):
    from medical_and_charity_document_extraction_system_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    # two long intervals sharing MANY bins (width 10): the pair must
    # appear exactly once, plus a touching pair (closed intervals)
    # and a disjoint pair
    left = _iv(spark, [(1, 1, 0, 100), (1, 2, 200, 210)], "l")
    right = _iv(
        spark, [(1, 10, 50, 400), (1, 20, 101, 150), (2, 30, 0, 100)], "r"
    )
    out = {
        (r.l_id, r.r_id): r.overlap_us
        for r in interval_overlap_join(
            left, right, "user_id",
            l_start="l_start_us", l_end="l_end_us",
            r_start="r_start_us", r_end="r_end_us",
            bin_width_us=10,
        ).collect()
    }
    assert out == {
        (1, 10): 50,  # [50,100] — once, despite 6 shared bins
        (2, 10): 10,  # [200,210] inside [50,400]
        # (1, 20): touching? 100 < 101 -> no; (x, 30): other user
    }


def test_interval_touching_endpoints_are_closed(spark):
    from medical_and_charity_document_extraction_system_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = _iv(spark, [(1, 1, 0, 100)], "l")
    right = _iv(spark, [(1, 10, 100, 200)], "r")
    out = interval_overlap_join(
        left, right, "user_id",
        l_start="l_start_us", l_end="l_end_us",
        r_start="r_start_us", r_end="r_end_us",
        bin_width_us=7,
    ).collect()
    assert len(out) == 1 and out[0].overlap_us == 0


def test_interval_join_plan_has_no_nested_loop(spark):
    from medical_and_charity_document_extraction_system_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    left = _iv(spark, [(1, 1, 0, 100)], "l")
    right = _iv(spark, [(1, 10, 50, 150)], "r")
    plan = interval_overlap_join(
        left, right, "user_id",
        l_start="l_start_us", l_end="l_end_us",
        r_start="r_start_us", r_end="r_end_us",
        bin_width_us=10,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


