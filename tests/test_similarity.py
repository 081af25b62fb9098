"""Similarity search: brute-force oracle (numpy) vs Spark operators."""

import numpy as np
import pytest

from medical_and_charity_document_extraction_system_spark.operators.similarity import (
    ann_topk_lsh,
    embedding_near_dup_lsh,
    topk_cosine,
    with_lsh_buckets,
)

from .conftest import SF_SMALL

DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, mat


def _brute_topk(ids, mat, q, k):
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))
    return [(int(ids[i]), float(cos[i])) for i in order[:k]]


def test_topk_cosine_matches_numpy(emb, emb_np):
    ids, mat = emb_np
    q = mat[0]
    exp = [(i, c) for i, c in _brute_topk(ids[1:], mat[1:], q, 10)]
    got = [(r.vec_id, r.cos_sim) for r in topk_cosine(emb.where("vec_id <> 0"), list(q), 10).collect()]
    assert [i for i, _ in got] == [i for i, _ in exp]
    for (gi, gc), (ei, ec) in zip(got, exp):
        assert gc == pytest.approx(ec, abs=1e-12)


def test_lsh_buckets_deterministic(emb):
    a = with_lsh_buckets(emb, DIM).orderBy("vec_id").select("_buckets").collect()
    b = with_lsh_buckets(emb, DIM).orderBy("vec_id").select("_buckets").collect()
    assert a == b


def test_ann_topk_recall(emb, emb_np):
    """ANN recall on weakly-similar (near-orthogonal) vectors: the
    true top-10 sit at cos~0.3-0.4, where a hyperplane agrees with
    prob ~0.62 — so recall needs few bits + many tables
    (16 tables x 4 bits => ~92% per-item recall)."""
    ids, mat = emb_np
    q = mat[0]
    exp_ids = {i for i, _ in _brute_topk(ids[1:], mat[1:], q, 10)}
    got = ann_topk_lsh(emb.where("vec_id <> 0"), list(q), 10, tables=16, bits=4)
    got_ids = {r.vec_id for r in got.collect()}
    assert len(exp_ids & got_ids) >= 6  # recall >= 0.6 at these params


def test_near_dup_lsh_subset_of_brute_force(emb, emb_np):
    """Every LSH-found pair must be a true pair (verification is exact);
    at a low threshold it should find a decent share of them."""
    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    iu = np.triu_indices(len(ids), k=1)
    true_pairs = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if cos[i, j] >= 0.3
    }
    # cos>=0.3 is weak similarity (p~0.6 per hyperplane) so use few
    # bits; at real near-dup thresholds (>=0.9) the defaults give ~90%
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_lsh(emb, DIM, threshold=0.3, tables=8, bits=4).collect()
    }
    assert got <= true_pairs
    if true_pairs:
        assert len(got) / len(true_pairs) >= 0.5


def test_ivf_deterministic_and_normalized(spark, emb):
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        train_ivf_centroids,
    )

    c1 = train_ivf_centroids(emb, n_clusters=8)
    c2 = train_ivf_centroids(emb, n_clusters=8)
    assert np.array_equal(c1, c2)
    assert c1.shape[0] == 8
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_exact_near_dup_collect_guard(emb):
    """Above max_broadcast_rows the driver collect must never happen:
    default refuses (naming the scale path), on_overflow='lsh'
    reroutes to the bucket-join plan."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        embedding_near_dup_exact,
    )

    with pytest.raises(ValueError, match="embedding_near_dup_lsh"):
        embedding_near_dup_exact(emb, threshold=0.3, max_broadcast_rows=10)

    rerouted = embedding_near_dup_exact(
        emb, threshold=0.3, max_broadcast_rows=10, on_overflow="lsh"
    )
    expected = embedding_near_dup_lsh(emb, dim=DIM, threshold=0.3)
    got = {(r.vec_a, r.vec_b, r.cos_sim) for r in rerouted.collect()}
    want = {(r.vec_a, r.vec_b, r.cos_sim) for r in expected.collect()}
    assert got == want and len(want) > 0

    # under the bound the exact path still runs (superset of LSH pairs)
    exact = embedding_near_dup_exact(emb, threshold=0.3)
    exact_pairs = {(r.vec_a, r.vec_b) for r in exact.collect()}
    assert {(a, b) for a, b, _ in want} <= exact_pairs


def test_stable_sign_dots_matches_fold_near_zero():
    """A dot within the margin of zero must take its sign from the
    left fold, not BLAS — the bucket bit the SQL twin computes."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        _fold_dot,
        _stable_sign_dots,
    )

    rng = np.random.RandomState(7)
    mat = rng.standard_normal((5, 16))
    proj = rng.standard_normal((9, 16))
    # plant a row orthogonal-by-construction to one projection
    proj[3] = rng.standard_normal(16)
    mat[2] = np.zeros(16)
    mat[2][0], mat[2][1] = proj[3][1], -proj[3][0]  # exact-zero dot in fold? not nec.
    dots = _stable_sign_dots(mat, proj)
    for i in range(5):
        for j in range(9):
            assert (dots[i, j] >= 0) == (_fold_dot(mat[i], proj[j]) >= 0)


def test_lsh_recall_eval_planted_duplicates_always_hit(spark):
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        lsh_recall_eval,
    )

    # every query (vec_id % 10 == 0) has an exact duplicate at id+1:
    # identical vectors share every LSH bucket, so the duplicate is
    # always a candidate and always the exact #1 — n_hits >= 1.
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        if i % 10 == 1:
            v = rows[i - 1][1]  # duplicate of the query before it
        else:
            v = [float(x) for x in rng.standard_normal(8)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = lsh_recall_eval(emb, dim=8, query_mod=10, k=3, tables=8, bits=2)
    got = {r.qid: r for r in out.collect()}
    assert set(got) == {0, 10, 20, 30}
    for r in got.values():
        assert r.n_exact == 3
        assert r.n_hits >= 1  # the planted duplicate
        assert 0 <= r.n_hits <= 3 and r.n_cand <= 36
        assert r.recall_bp == r.n_hits * 10000 // r.n_exact
    # deterministic across reruns
    again = {
        r.qid: (r.n_exact, r.n_cand, r.n_hits, r.recall_bp)
        for r in lsh_recall_eval(
            emb, dim=8, query_mod=10, k=3, tables=8, bits=2
        ).collect()
    }
    assert again == {
        q: (r.n_exact, r.n_cand, r.n_hits, r.recall_bp)
        for q, r in got.items()
    }


def test_lsh_recall_eval_refuses_cross_join_above_bound(emb, monkeypatch):
    from medical_and_charity_document_extraction_system_spark.operators import similarity

    # sf0.001: 10 held-out queries x 490 base rows = 4900 exact pairs
    monkeypatch.setattr(similarity, "MAX_RECALL_EVAL_PAIRS", 1000)
    with pytest.raises(ValueError, match=r"cross-join bound \(1000\)"):
        similarity.lsh_recall_eval(emb)
