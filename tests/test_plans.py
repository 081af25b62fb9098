"""Physical-plan regression guards: the properties PLANS.md claims
must stay true (they are the 100-TB story). Plan-only — nothing
executes; a refactor that silently adds a shuffle, loses pushdown, or
degrades a join to a cartesian product fails here, not at scale."""

import contextlib
import io

import pytest

import __spark_entry__ as entry_mod

from .conftest import SF_SMALL


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_fused_extraction_zero_shuffles_one_scan(spark):
    from medical_and_charity_document_extraction_system_spark.plans import run_extraction
    from medical_and_charity_document_extraction_system_spark.sources import synthesize_pages

    df = run_extraction(synthesize_pages(spark, SF_SMALL))
    tree = plan_of(df, "simple")  # tree only: node counts are exact
    assert "Exchange" not in tree  # zero shuffles, at any scale
    assert tree.count("Scan parquet") == 1  # one pass over the input
    # exactly one Python stage: synthesize_pages' rendering fuses into
    # the extraction stage, and no stage goes through pandas
    stages = [line for line in tree.splitlines() if "MapInArrow" in line]
    assert len(stages) == 1 and "MapInPandas" not in tree
    assert "is_scanned" in stages[0]
    # column pruning reaches the scan: warc_ts never deserialized
    read_schema = [l for l in plan_of(df).splitlines() if "ReadSchema" in l]
    assert read_schema and "warc_ts" not in read_schema[0]


def test_retention_predicate_reaches_parquet(spark):
    plan = plan_of(entry_mod.queries()["retention_cleanup"](spark, SF_SMALL))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThanOrEqual(ts" in pushed[0]


def test_topk_never_global_sorts(spark):
    plan = plan_of(entry_mod.queries()["topk_cosine"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_aggregations_partial_then_final(spark):
    df = entry_mod.queries()["exact_dedup"](spark, SF_SMALL)
    tree = plan_of(df, "simple")
    assert tree.count("HashAggregate") >= 2  # two-phase aggregation
    # the pre-shuffle phase must be the partial (map-side combine):
    # the exchange then moves one row per (partition x key), not per row
    assert "partial_count" in tree and "partial_min" in tree
    # and the md5 fingerprint is evaluated JVM-side, not in Python
    assert "md5(" in tree and "pythonUDF" not in tree.lower()


@pytest.mark.parametrize(
    "name",
    ["minhash_near_dup", "simhash_near_dup", "embedding_near_dup_lsh",
     "ngram_jaccard", "near_dup_components"],
)
def test_dedup_paths_never_cartesian(spark, name):
    """Every near-dup/similarity path must pair via equi-joins on
    bucket/band/id keys — an accidental cartesian product is the
    one plan shape that cannot survive 10^12 rows."""
    plan = plan_of(entry_mod.queries()[name](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The benchmark side (eval-suite-sized) must broadcast so the
    corpus never shuffles on the gram key; the only corpus shuffle is
    the doc-keyed hit count (map-side combinable partial)."""
    df = entry_mod.queries()["decontamination"](spark, SF_SMALL)
    tree = plan_of(df, "simple")
    assert "BroadcastHashJoin" in tree and "LeftSemi" in tree
    # no sort-merge pairing on the (corpus-frequent) gram key
    assert "SortMergeJoin [g" not in tree
    assert "partial_count" in tree


def test_dsir_scoring_is_joinless(spark):
    """The bucket->log-ratio map is an m-entry array literal: scoring
    must plan NO join on the feature/bucket key at all — only the
    doc-keyed sum (exact integer, map-side partial) and the final
    id-aligned assembly join."""
    from medical_and_charity_document_extraction_system_spark.operators.dsir import (
        dsir_log_weights,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    scored = dsir_log_weights(docs, list(range(64)))
    tree = plan_of(scored, "simple")
    # the one join is the left outer re-attach of per-doc sums to the
    # full id list (zero-feature docs) — keyed on doc_id, never on g/b
    assert "Join [g" not in tree and "Join [b" not in tree
    assert "partial_sum" in tree
    assert "pythonUDF" not in tree.lower()  # pure JVM path


def test_semdedup_pair_join_carries_ids_only(spark):
    """Pair generation must shuffle (id, cid) only: the 64-float
    vectors join back per side AFTER the pair join, so no vector
    payload rides the cluster-key exchange."""
    import numpy as np

    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cent = np.eye(4, 64, dtype=np.float64)  # fixed quantizer: plan-only test
    df = semantic_dedup(emb, dim=64, centroids=cent)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cid-keyed pair exchanges move ids, not embeddings
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(cid[^\n]*", plan):
        assert "_vn" not in m.group(0) and "embedding" not in m.group(0)


def test_phrase_match_joins_are_equi(spark):
    plan = plan_of(entry_mod.queries()["phrase_match"](spark, SF_SMALL), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

