"""Planted-skew stress tests for the r4 shuffle operators.

Mirrors the LSH hot-bucket stress (test_dedup.py): each test plants a
degenerate key distribution a 100-TB corpus WILL contain — a stopword
term hitting ~every document, one mega-duplicated text window, one
dominant host — and pins (a) correctness under the skew and (b) a
generous wall-clock budget at local[8]. The budgets are deliberately
loose (the box drifts +/-30%, CLAUDE.md): they catch the
single-task-hotspot failure mode (minutes, not seconds), not a 20%
regression. Plan-shape asserts in the per-operator test files are the
precise guards; these are the end-to-end backstop.
"""

import time

BUDGET_SEC = 90


def test_inverted_index_hot_term_within_budget(spark):
    """30% of all token positions are the same stopword: with the old
    Window.partitionBy('term') df every 'the'-posting landed in ONE
    window partition; the agg+join form map-side combines."""
    from medical_and_charity_document_extraction_system_spark.operators.index import (
        inverted_index,
    )

    n_docs = 4000
    rows = [
        (
            i,
            " ".join(
                "the" if (j + i) % 3 == 0 else f"w{(i * 31 + j * 7) % 997}"
                for j in range(30)
            ),
        )
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    t0 = time.time()
    out = inverted_index(df, min_df=2)
    hot = out.where("term = 'the'")
    n_hot = hot.count()
    df_val = hot.select("df").first()["df"]
    elapsed = time.time() - t0
    assert n_hot == n_docs  # every doc posts the hot term
    assert df_val == n_docs
    assert elapsed < BUDGET_SEC, f"hot-term index took {elapsed:.0f}s"


def test_span_dedup_mega_duplicated_window_within_budget(spark):
    """One 12-token window duplicated across 60% of the corpus: its
    whash is a single groupBy key (map-side combinable) and the
    dup-window join back is AQE-splittable — must not hotspot."""
    from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
        span_dedup,
    )

    mega = " ".join(f"dup{j}" for j in range(12))
    rows = []
    for i in range(1500):
        uniq = " ".join(f"u{i}x{j}" for j in range(12))
        rows.append((i, f"{mega} {uniq}" if i % 5 < 3 else f"{uniq} more{i} words{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    t0 = time.time()
    out = {r["doc_id"]: r for r in span_dedup(df, k=12).collect()}
    elapsed = time.time() - t0
    # canonical occurrence (doc 0) keeps the window; every other
    # mega-carrier loses exactly those 12 tokens
    assert out[0]["n_removed"] == 0
    carriers = [i for i in range(1500) if i % 5 < 3]
    assert all(out[i]["n_removed"] == 12 for i in carriers[1:])
    assert all(out[i]["n_removed"] == 0 for i in range(1500) if i % 5 >= 3)
    assert elapsed < BUDGET_SEC, f"mega-window span_dedup took {elapsed:.0f}s"


def test_pagerank_dominant_host_within_budget(spark):
    """Every node links to node 0 (a 30k-in-degree hub): the inflow
    groupBy('dst') is map-side combinable so the hub key reduces to
    one partial per task, never one task pulling 30k rows."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        pagerank_fixed,
    )

    n = 30_000
    edges = spark.range(1, n).selectExpr("id AS src", "CAST(0 AS LONG) AS dst")
    # plus a sparse ring so non-hub nodes have inflow too
    ring = spark.range(1, n).selectExpr("id AS src", "(id % (30000 - 1)) + 1 AS dst")
    t0 = time.time()
    ranks = {
        r.node: r.rank_units
        for r in pagerank_fixed(edges.union(ring), iterations=3).collect()
    }
    elapsed = time.time() - t0
    assert len(ranks) == n
    # the hub dominates every spoke
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 100
    assert elapsed < BUDGET_SEC, f"dominant-host pagerank took {elapsed:.0f}s"


def test_bpe_wide_vocab_within_budget(spark):
    """BPE training cost must track VOCABULARY size, not corpus size:
    20k distinct words (every round re-folds the full word table)
    through 4 merge rounds inside the budget, and the learned merges
    must equal the Python twin's on the same counts."""
    import time

    from medical_and_charity_document_extraction_system_spark.operators.bpe import (
        bpe_train,
        bpe_train_python,
        word_counts,
    )

    rows = [
        (i, " ".join(f"w{j:05d}x" for j in range(i % 40, i % 40 + 25)))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    t0 = time.monotonic()
    merges, _ = bpe_train(df, 4)
    elapsed = time.monotonic() - t0
    wc = {r["word"]: r["cnt"] for r in word_counts(df).collect()}
    pm, _ = bpe_train_python(wc, 4)
    assert merges == pm
    assert elapsed < BUDGET_SEC, f"wide-vocab bpe took {elapsed:.0f}s"


def test_shingle_jaccard_max_df_bounds_boilerplate_blowup(spark):
    """One boilerplate shingle shared by EVERY doc would alone emit
    n^2/2 join rows in exact mode; with max_df it is excluded from
    the join and the query completes within budget, emitting only the
    genuinely-similar pairs (which share plenty of under-cap grams)."""
    import time

    from medical_and_charity_document_extraction_system_spark.operators.sparsesim import (
        shingle_jaccard_pairs,
    )

    boiler = "copyright footer terms"
    rows = []
    for i in range(4000):
        # 40 groups of 100 near-identical docs + the global boilerplate
        body = " ".join(f"g{i % 40}w{j}" for j in range(12))
        rows.append((i, f"{body} {boiler}"))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    t0 = time.monotonic()
    out = shingle_jaccard_pairs(df, t_num=1, t_den=2, max_df=200)
    n = out.count()
    elapsed = time.monotonic() - t0
    # each group of 100 identical docs -> C(100,2) pairs
    assert n == 40 * 100 * 99 // 2
    assert elapsed < BUDGET_SEC, f"capped similarity join took {elapsed:.0f}s"


def test_edit_distance_hot_segment_within_budget(spark):
    """Adversarial PassJoin skew: thousands of strings share segment 0
    verbatim ("AAAAA" prefix) but differ far beyond max_dist in the
    tail — a worst case where the hot (len, 0, 'AAAA…') build key
    pairs ~everything with ~everything and the banded-levenshtein
    verify must reject nearly all of it. Pins that the verify is the
    cheap banded form (O(len*d) early-abort), not full DP, and that
    the join stays an equi-join."""
    from medical_and_charity_document_extraction_system_spark.operators.editsim import (
        edit_distance_pairs,
    )

    import hashlib

    def tail(i):
        h = hashlib.md5(f"tail:{i}".encode()).hexdigest()
        return "".join(chr(97 + int(h[j] + h[j + 1], 16) % 26) for j in range(19))

    n = 2500
    rows = [(i, "AAAAA" + tail(i)) for i in range(n)]
    # plant exactly one true near-dup pair
    rows.append((n, rows[0][1][:-1] + "!"))
    df = spark.createDataFrame(rows, "id long, s string").repartition(8)
    t0 = time.time()
    got = {
        (r.id_a, r.id_b)
        for r in edit_distance_pairs(df, "id", "s", max_dist=2).collect()
    }
    elapsed = time.time() - t0
    assert (0, n) in got
    # random 19-char tails at dist<=2 are combinatorially implausible
    assert len(got) < 20
    assert elapsed < BUDGET_SEC, f"hot-segment edit join took {elapsed:.0f}s"
