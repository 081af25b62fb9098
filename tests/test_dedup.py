"""Dedup operators: planted near-duplicates with pure-Python oracles."""

import pytest

from medical_and_charity_document_extraction_system_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_dup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree "
    "near the quiet river bank under a clear morning sky"
)


def _py_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("morning", "evening")),  # near dup
        (3, BASE.replace("quick", "slow").replace("lazy", "merry")),  # near-ish
        (4, "completely different text about spark dataframes and shuffles at scale"),
        (5, "another unrelated document mentioning hash joins and broadcast plans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = exact_dedup(docs)
    ids = {r.doc_id for r in out.collect()}
    assert 0 in ids and 1 not in ids  # min id kept
    assert ids == {0, 2, 3, 4, 5}


def test_minhash_signature_deterministic(docs):
    s1 = minhash_signatures(docs).orderBy("doc_id").collect()
    s2 = minhash_signatures(docs).orderBy("doc_id").collect()
    assert [r.signature for r in s1] == [r.signature for r in s2]
    # identical docs -> identical signatures
    assert s1[0].signature == s1[1].signature


def test_lsh_candidates_catch_exact_and_near(docs):
    sigs = minhash_signatures(docs)
    cands = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in cands
    assert (0, 2) in cands or (1, 2) in cands


def test_minhash_near_dup_verified_jaccard(docs):
    out = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_dup(docs, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    exp_02 = _py_jaccard(BASE, BASE.replace("morning", "evening"))
    assert abs(out[(0, 2)] - exp_02) < 1e-12
    # unrelated docs never pass verification
    assert all(not (a in (4, 5) or b in (4, 5)) for a, b in out)


def test_simhash_properties(docs):
    rows = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert rows[0] == rows[1]  # identical text, identical hash
    ham_near = bin((rows[0] ^ rows[2]) & (2**64 - 1)).count("1")
    ham_far = bin((rows[0] ^ rows[4]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer in Hamming space


def test_simhash_near_dup_blocking(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dup(docs, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0


def test_ngram_jaccard_pairs_on_given_candidates(spark, docs):
    cands = spark.createDataFrame([(0, 3), (0, 4)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, cands).collect()}
    assert out[(0, 3)] == pytest.approx(
        _py_jaccard(BASE, BASE.replace("quick", "slow").replace("lazy", "merry")), abs=1e-12
    )
    assert out[(0, 4)] == 0.0


def test_connected_components_chain(spark):
    """Planted chain a-b-c plus isolated pair d-e: min-label
    propagation must close the transitive group."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_connected_components_converges_on_long_chain(spark):
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        connected_components,
    )

    n = 12  # diameter > typical 2-3 rounds: exercises the loop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_incremental_signature_store_equals_full_batch(spark, tmp_path):
    """The daily-recrawl contract: sign batch1 once into the store;
    dedup batch2 against (store ∪ batch2) signatures only. The union
    of batch1-internal pairs and incremental pairs must equal the
    full-batch near-dup pair set exactly (same jaccard values)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_near_dup,
        write_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = docs.where("doc_id % 2 = 0")
    batch2 = docs.where("doc_id % 2 = 1")

    store = str(tmp_path / "sigstore")
    write_signature_store(batch1, store)
    stored = spark.read.parquet(store)

    pairs1 = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_dup(batch1, threshold=0.9).collect()
    }
    inc = {
        (r.id_a, r.id_b, r.jaccard)
        for r in incremental_minhash_near_dup(
            batch2, stored, docs, threshold=0.9
        ).collect()
    }
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_dup(docs, threshold=0.9).collect()
    }
    assert pairs1 | inc == full
    assert pairs1 & inc == set()  # incremental never re-emits old-old
    assert len(full) > 0
    # every incremental pair touches the new batch
    new_ids = {r.doc_id for r in batch2.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b, _ in inc)


def test_signature_store_append_grows(spark, tmp_path):
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        write_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    store = str(tmp_path / "sigstore")
    write_signature_store(docs.where("doc_id < 100"), store)
    n1 = spark.read.parquet(store).count()
    write_signature_store(
        docs.where("doc_id >= 100 and doc_id < 150"), store, mode="append"
    )
    n2 = spark.read.parquet(store).count()
    assert n2 > n1


def test_signature_store_append_into_legacy_store_keeps_schema(spark, tmp_path):
    """Plain mode='append' into a pre-r4 legacy store (no text_md5 /
    generation columns) must project to the store's schema instead of
    creating a mixed-schema parquet dir whose resolution is
    reader-dependent (ADVICE r4)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        read_signature_store,
        write_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    modern = str(tmp_path / "modern")
    store = str(tmp_path / "legacy")
    write_signature_store(docs.where("doc_id < 50"), modern)
    legacy_cols = [
        c
        for c in spark.read.parquet(modern).columns
        if c not in ("text_md5", "generation")
    ]
    spark.read.parquet(modern).select(*legacy_cols).write.parquet(store)

    write_signature_store(
        docs.where("doc_id >= 50 and doc_id < 80"), store, mode="append"
    )
    grown = spark.read.parquet(store)
    assert grown.columns == legacy_cols  # no schema drift
    assert grown.select("doc_id").distinct().count() == 80
    assert read_signature_store(spark, store).count() == grown.count()


def test_connected_components_long_chain_logarithmic(spark):
    """Planted 200-node chain (diameter 199): pointer jumping must
    close it within 10 rounds — plain min-propagation would need ~200
    and trip the convergence guard. All nodes land on component 0."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = connected_components(pairs, max_iter=10).collect()
    assert len(out) == 200
    assert all(r.component == 0 for r in out)


def test_connected_components_mixed_shapes(spark):
    """Chain + star + isolated pair in one graph; labels = per-
    component min ids."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        connected_components,
    )

    edges = (
        [(i, i + 1) for i in range(10, 40)]          # chain 10..40
        + [(100, v) for v in range(101, 110)]        # star at 100
        + [(500, 501)]                               # pair
    )
    out = {
        r.node: r.component
        for r in connected_components(
            spark.createDataFrame(edges, "id_a long, id_b long"), max_iter=10
        ).collect()
    }
    assert all(out[n] == 10 for n in range(10, 41))
    assert all(out[n] == 100 for n in range(100, 110))
    assert out[500] == out[501] == 500


def test_signature_store_upsert_reingest_safe(spark, tmp_path):
    """The recrawl double-feed hazard (r4): re-ingesting batch1 with
    mode='upsert' must not duplicate band rows, and running the
    incremental dedup with a fully re-seen batch must emit ZERO pairs
    (their pairs were emitted at first ingestion). A store built with
    plain append + read_signature_store gives the same guarantee."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        incremental_minhash_near_dup,
        read_signature_store,
        write_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = docs.where("doc_id % 2 = 0")

    store = str(tmp_path / "sigstore")
    write_signature_store(batch1, store, mode="upsert")
    n1 = spark.read.parquet(store).count()
    # re-ingest the same batch: upsert adds nothing
    write_signature_store(batch1, store, mode="upsert")
    assert spark.read.parquet(store).count() == n1
    stored = read_signature_store(spark, store)
    assert stored.count() == n1

    # fully re-seen batch -> no pairs, no self pairs, no duplicates
    inc = incremental_minhash_near_dup(batch1, stored, docs, threshold=0.9).collect()
    assert inc == []

    # plain-append double-write: read-side dedup collapses it
    store2 = str(tmp_path / "sigstore2")
    write_signature_store(batch1, store2)
    write_signature_store(batch1, store2, mode="append")
    assert spark.read.parquet(store2).count() == 2 * n1
    assert read_signature_store(spark, store2).count() == n1


def test_lsh_hot_bucket_salting_identical_pairs(spark):
    """Planted degenerate bucket: 30% of docs share identical text, so
    one band key holds them all. With hot_bucket_size forced low the
    salted path must activate (salt explode visible in the plan) and
    produce EXACTLY the same candidate pair set as the plain join."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = []
    for i in range(200):
        if i < 60:  # the flood: identical text -> identical band keys
            rows.append((i, "spam spam spam spam spam spam wonderful spam"))
        else:
            rows.append((i, f"unique document number {i} with words {i * 7} {i * 13}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df).cache()

    plain = lsh_candidate_pairs(sigs, hot_bucket_size=10**9)
    guarded = lsh_candidate_pairs(sigs, hot_bucket_size=50, salt_buckets=4)
    gplan = guarded._jdf.queryExecution().optimizedPlan().toString()
    assert "pmod" in gplan and "explode" in gplan.lower(), gplan

    p = {(r.id_a, r.id_b) for r in plain.collect()}
    g = {(r.id_a, r.id_b) for r in guarded.collect()}
    assert g == p
    # the flood is fully pair-connected: C(60,2) pairs present
    flood = {(a, b) for a, b in p if a < 60 and b < 60}
    assert len(flood) == 60 * 59 // 2
    sigs.unpersist()


def test_embedding_lsh_hot_bucket_guard_matches(spark):
    """embedding_near_dup_lsh with the skew guard active (vs the
    planted near-identical embedding flood) keeps its exact output."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    rng = np.random.RandomState(7)
    base = rng.rand(8)
    rows = []
    for i in range(120):
        if i < 40:  # flood: same direction, tiny deterministic jitter
            v = base + 1e-6 * np.cos(np.arange(8) + i)
        else:
            v = rng.rand(8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_lsh(df, dim=8, threshold=0.999)
    got = {(r.vec_a, r.vec_b) for r in out.collect()}
    flood_pairs = {(a, b) for a, b in got if a < 40 and b < 40}
    assert len(flood_pairs) == 40 * 39 // 2  # flood fully detected


def test_signature_store_upsert_revision_aware(spark, tmp_path):
    """A recrawl that REVISES a document must re-enter dedup: the
    upsert appends a new-generation signature row (store stays
    append-only), read serves only the latest generation, and the
    incremental run emits the revised doc's fresh pairs instead of
    silently keeping the stale signature (r4 review finding)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        incremental_minhash_near_dup,
        read_signature_store,
        write_signature_store,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = docs.where("doc_id < 100").select("doc_id", "text")
    store = str(tmp_path / "revstore")
    write_signature_store(batch1, store, mode="upsert")
    stored = read_signature_store(spark, store)
    n1 = stored.count()

    # recrawl: doc 0 revised to duplicate doc 1's text exactly
    d1_text = docs.where("doc_id = 1").select("text").first()[0]
    revised = spark.createDataFrame([(0, d1_text)], "doc_id long, text string")

    # the revised doc is NOT dropped: its pair with doc 1 is emitted
    corpus = batch1.where("doc_id != 0").unionByName(revised)
    pairs = incremental_minhash_near_dup(
        revised, stored, corpus, threshold=0.9
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]

    # upsert appends a new generation; read serves the NEW signature
    write_signature_store(revised, store, mode="upsert")
    latest = read_signature_store(spark, store)
    assert latest.count() == n1  # still one row per id
    row0 = latest.where("doc_id = 0").first()
    row1 = latest.where("doc_id = 1").first()
    assert row0.generation == 1
    assert row0.signature == row1.signature  # re-signed to the new text

    # re-ingesting the revised doc again is now a no-op
    write_signature_store(revised, store, mode="upsert")
    assert read_signature_store(spark, store).count() == n1
    again = incremental_minhash_near_dup(
        revised, read_signature_store(spark, store), corpus, threshold=0.9
    ).collect()
    assert again == []
