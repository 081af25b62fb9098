"""NB log-odds quality classifier (operators/classifier.py)."""

from medical_and_charity_document_extraction_system_spark.operators.classifier import (
    nb_scores,
    nb_weights_from_counts,
    train_nb_classifier,
)


def _corpus(spark, n=80):
    # positives speak "good"-ish words, negatives "spam"-ish; the
    # marker distributions are disjoint so holdout must separate
    rows = []
    for i in range(n):
        if i % 2 == 0:
            rows.append((i, True, f"alpha beta gamma delta w{i % 5}"))
        else:
            rows.append((i, False, f"zzz yyy xxx www w{i % 5}"))
    return spark.createDataFrame(rows, "doc_id long, label_pos boolean, text string")


def test_holdout_separation(spark):
    df = _corpus(spark)
    train = df.where("doc_id % 10 < 8")
    weights, bias = train_nb_classifier(train, "label_pos")
    ev = df.where("doc_id % 10 >= 8")
    out = nb_scores(ev, weights, bias).join(
        ev.select("doc_id", "label_pos"), "doc_id"
    )
    rows = out.collect()
    assert rows and all(r["pred"] == r["label_pos"] for r in rows)
    # scores carry margin, not just sign
    assert all(abs(r["score"]) > 0.5 for r in rows)


def test_empty_doc_scores_bare_prior(spark):
    df = spark.createDataFrame(
        [(0, True, "a b"), (1, False, "c d"), (2, False, "")],
        "doc_id long, label_pos boolean, text string",
    )
    weights, bias = train_nb_classifier(df.where("doc_id < 2"), "label_pos")
    out = {r["doc_id"]: r for r in nb_scores(df, weights, bias).collect()}
    assert out[2]["n_toks"] == 0
    assert out[2]["score_scaled"] == bias


def test_scores_are_partitioning_invariant(spark):
    df = _corpus(spark, 60)
    weights, bias = train_nb_classifier(df, "label_pos")
    a = {r["doc_id"]: r["score_scaled"] for r in nb_scores(df, weights, bias).collect()}
    b = {
        r["doc_id"]: r["score_scaled"]
        for r in nb_scores(df.repartition(8), weights, bias).collect()
    }
    assert a == b  # exact integer sums: bit-equal under any plan


def test_prior_bias_shifts_every_score(spark):
    df = _corpus(spark, 40)
    weights, bias = train_nb_classifier(df, "label_pos")
    base = {r["doc_id"]: r["score_scaled"] for r in nb_scores(df, weights, bias).collect()}
    up = {
        r["doc_id"]: r["score_scaled"]
        for r in nb_scores(df, weights, bias + 7).collect()
    }
    assert all(up[k] - base[k] == 7 for k in base)


def test_weights_arithmetic_add_one_smoothing():
    w, bias = nb_weights_from_counts({0: 9}, {1: 9}, 10, 10, 2)
    # bucket 0: log(10/11) - log(1/11) = log(10) in fixed point
    import math

    assert w[0] == int(round(math.log(10.0) * (1 << 40)))
    assert w[1] == -w[0]
    assert bias == 0  # balanced classes


def test_plan_is_jvm_side_no_join_in_scoring(spark):
    df = _corpus(spark, 20)
    weights, bias = train_nb_classifier(df, "label_pos")
    out = nb_scores(df, weights, bias)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the bucket->weight map is an array literal: scoring joins only
    # to re-attach token-free docs, never on a weight table
    assert plan.count("BroadcastHashJoin") <= 1
