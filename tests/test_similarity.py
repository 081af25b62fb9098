"""Similarity search: brute-force oracle (numpy) vs Spark operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

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


def test_ivf_full_probe_equals_brute_force(spark, emb):
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ivf_topk,
        topk_cosine,
        train_ivf_centroids,
    )

    q = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    rest = emb.where("vec_id <> 0")
    cents = train_ivf_centroids(rest, n_clusters=8)
    exact = [r.vec_id for r in topk_cosine(rest, q, k=10).collect()]
    full = [
        r.vec_id
        for r in ivf_topk(rest, q, k=10, centroids=cents, nprobe=8).collect()
    ]
    assert full == exact  # probing every cluster degenerates to exact


def test_ivf_partial_probe_recall(spark, emb):
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ivf_topk,
        topk_cosine,
        train_ivf_centroids,
    )

    q = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    rest = emb.where("vec_id <> 0")
    cents = train_ivf_centroids(rest, n_clusters=16)
    exact = {r.vec_id for r in topk_cosine(rest, q, k=10).collect()}
    approx = {
        r.vec_id
        for r in ivf_topk(rest, q, k=10, centroids=cents, nprobe=4).collect()
    }
    assert len(exact & approx) >= 6  # recall@10 >= 0.6 probing 1/4 of space


def test_ivf_pruned_layout_matches_and_prunes(spark, emb, tmp_path):
    """The materialized IVF layout: same answer as the on-the-fly
    operator, and the probe's cluster filter reaches the scan as a
    partition filter (pruned at file listing — the 100-TB story)."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_pruned,
        train_ivf_centroids,
        write_ivf_clustered,
    )

    q = [float(x) for x in emb.where("vec_id = 0").first().embedding]
    rest = emb.where("vec_id <> 0")
    cents = train_ivf_centroids(rest, n_clusters=8)
    path = str(tmp_path / "ivf_layout")
    write_ivf_clustered(rest, path, cents)

    pruned = ivf_topk_pruned(spark, path, q, cents, k=10, nprobe=2)
    flying = ivf_topk(rest, q, k=10, centroids=cents, nprobe=2)
    assert [(r.vec_id, r.cos_sim) for r in pruned.collect()] == [
        (r.vec_id, r.cos_sim) for r in flying.collect()
    ]
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "_ivf" in plan.split("PartitionFilters", 1)[1]
    # only the probed clusters' files are listed
    import glob

    n_cluster_dirs = len(glob.glob(path + "/_ivf=*"))
    assert n_cluster_dirs > 2  # layout actually split the data


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


def test_ivf_pruned_oracle_generalizes_across_sf(spark):
    """ann_topk_ivf_sql embeds data-derived centroids; rebuilding it
    for a DIFFERENT sf (different vectors, different centroids) must
    still match the Spark pruned IVF bit-for-bit — the construction is
    a function of the table, not a hardcoded answer."""
    import duckdb

    from medical_and_charity_document_extraction_system_spark.oracles import ann_topk_ivf_sql

    sf = SF_SMALL
    import __spark_entry__ as entry

    got = [
        (r.vec_id, r.cos_sim)
        for r in entry.q_ann_topk_ivf(spark, sf).collect()
    ]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
    )
    want = [(int(a), float(b)) for a, b in con.sql(ann_topk_ivf_sql(sf_dir=sf)).fetchall()]
    con.close()
    assert got == want


# ------------------------------------------------------------ SQ8 ANN


def test_sq8_quantize_endpoints_and_constant_dim():
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        sq8_params_from_minmax,
        sq8_quantize_vec,
    )

    params = sq8_params_from_minmax([0.0, 5.0], [1.0, 5.0])
    assert params[1][1] == 0.0  # constant dim -> scale 0
    assert sq8_quantize_vec([0.0, 5.0], params) == [0, 0]  # min -> 0
    assert sq8_quantize_vec([1.0, 5.0], params) == [255, 0]  # max -> 255
    assert sq8_quantize_vec([0.5, 5.0], params) == [128, 0]  # floor(127.5+0.5)
    # outliers clamp (params may come from a sample at real scale)
    assert sq8_quantize_vec([9.9, 5.0], params) == [255, 0]
    assert sq8_quantize_vec([-9.9, 5.0], params) == [0, 0]


def test_sq8_topk_recovers_planted_neighbor(spark):
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ann_topk_sq8,
        sq8_params_from_minmax,
        sq8_quantize_vec,
    )

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.rand(50, 8).astype("float32")
    # unit-normalize: integer dot then ranks like cosine, so the
    # planted near-copy must win (raw SQ8 scoring is MIPS semantics)
    base = (base / np.linalg.norm(base, axis=1, keepdims=True)).astype("float32")
    q = base[13] + 0.001  # vector 13 is (nearly) the query itself
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    mins = base.min(axis=0).tolist()
    maxs = base.max(axis=0).tolist()
    params = sq8_params_from_minmax([float(x) for x in mins], [float(x) for x in maxs])
    q_ints = sq8_quantize_vec([float(x) for x in q], params)
    top = ann_topk_sq8(df, params, q_ints, k=5).collect()
    assert top[0]["vec_id"] == 13  # the planted neighbor wins
    # integer scores, descending with deterministic tie-break
    dots = [r["dot_q"] for r in top]
    assert dots == sorted(dots, reverse=True)
    assert all(isinstance(d, int) for d in dots)


def test_sq8_scores_partitioning_invariant(spark):
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ann_topk_sq8,
        sq8_params_from_minmax,
        sq8_quantize_vec,
    )

    rows = [(i, [float((i * j) % 7) for j in range(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    params = sq8_params_from_minmax([0.0] * 4, [6.0] * 4)
    q_ints = sq8_quantize_vec([3.0, 1.0, 4.0, 1.0], params)
    a = [tuple(r) for r in ann_topk_sq8(df, params, q_ints, 10).collect()]
    b = [tuple(r) for r in ann_topk_sq8(df.repartition(8), params, q_ints, 10).collect()]
    assert a == b


# ------------------------------------------------------------- PQ ANN


def test_pq_roundtrip_quality_and_determinism(spark):
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        pq_adc_topk,
        pq_code_margins,
        pq_codes_np,
        pq_distance_table_fp,
        pq_encode,
        pq_train,
    )

    rng = np.random.RandomState(3)
    # 4 well-separated blobs in 16 dims -> PQ must keep blob members
    # nearest to a query from their own blob
    centers = rng.rand(4, 16) * 10
    base = np.vstack([c + rng.rand(25, 16) * 0.1 for c in centers]).astype(
        "float64"
    )
    codebooks = pq_train(base, m=4, k=4)
    assert pq_code_margins(base, codebooks) > 1e-9
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # distributed encoding equals the numpy reference
    # (float32 storage: quantize the same float32-rounded values)
    mat32 = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    want = pq_codes_np(mat32, codebooks).tolist()
    got = {
        r["vec_id"]: list(r["code"]) for r in pq_encode(df, codebooks).collect()
    }
    assert [got[i] for i in range(len(rows))] == want
    # ADC top-10 for a blob-0 query is all blob-0 members
    q = centers[0] + 0.05
    dtab = pq_distance_table_fp([float(x) for x in q], codebooks)
    top = pq_adc_topk(pq_encode(df, codebooks), dtab, k=10).collect()
    assert all(r["vec_id"] < 25 for r in top)
    # integer scores ascend with deterministic tie-break
    fps = [r["adc_fp"] for r in top]
    assert fps == sorted(fps)
    # partitioning cannot move a single integer score
    top8 = pq_adc_topk(pq_encode(df.repartition(8), codebooks), dtab, k=10).collect()
    assert [tuple(r) for r in top8] == [tuple(r) for r in top]


def test_pq_distance_table_is_fixed_point_int(spark):
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        PQ_FP_SCALE,
        pq_distance_table_fp,
        pq_train,
    )

    rng = np.random.RandomState(5)
    mat = rng.rand(40, 8)
    cbs = pq_train(mat, m=2, k=4)
    dtab = pq_distance_table_fp([0.5] * 8, cbs)
    assert len(dtab) == 2 and all(len(r) == 4 for r in dtab)
    assert all(isinstance(v, int) and v >= 0 for r in dtab for v in r)
    # descale recovers the float distance to within half an ulp step
    q = np.array([0.5] * 4)
    d0 = float(((q - cbs[0][0]) ** 2).sum())
    assert abs(dtab[0][0] / PQ_FP_SCALE - d0) <= 1.0 / PQ_FP_SCALE


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
