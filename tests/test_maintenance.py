"""Maintenance operator tests: merge (reference merge_pdfs /
pdf_service.py:23-85 degrade semantics) and retention
(cleanup_files / file_utils.py:75-126)."""

import datetime

import pytest

from medical_and_charity_document_extraction_system_spark.operators.maintenance import (
    merge_sources,
    retention_filter,
)


def test_merge_counts_pages(spark):
    a = spark.range(10).withColumnRenamed("id", "doc_id")
    b = spark.range(5).withColumnRenamed("id", "doc_id")
    assert merge_sources(a, b).count() == 15


def test_merge_skips_incompatible_inputs(spark):
    a = spark.range(10).withColumnRenamed("id", "doc_id")
    broken = spark.range(3)  # wrong schema = the "encrypted pdf" analog
    b = spark.range(5).withColumnRenamed("id", "doc_id")
    assert merge_sources(a, broken, b).count() == 15


def test_merge_empty_raises():
    with pytest.raises(ValueError):
        merge_sources()


def test_retention_filter(spark):
    rows = [
        (1, datetime.datetime(2024, 1, 1)),
        (2, datetime.datetime(2024, 1, 20)),
        (3, datetime.datetime(2024, 2, 1)),
    ]
    df = spark.createDataFrame(rows, ["id", "ts"])
    kept = retention_filter(df, "ts", datetime.datetime(2024, 1, 15))
    assert sorted(r.id for r in kept.collect()) == [2, 3]


def test_validate_pages_schema_accepts_good(spark):
    from medical_and_charity_document_extraction_system_spark.schema import PAGES_SCHEMA
    from medical_and_charity_document_extraction_system_spark.sources.validate import (
        validate_pages_schema,
    )

    good = spark.createDataFrame([], PAGES_SCHEMA)
    assert validate_pages_schema(good) is good


def test_validate_pages_schema_rejects_bad(spark):
    from medical_and_charity_document_extraction_system_spark.sources.validate import (
        SchemaValidationError,
        validate_pages_schema,
    )

    bad = spark.createDataFrame([("u", 1)], ["url", "html"])  # html wrong type, cols missing
    with pytest.raises(SchemaValidationError) as e:
        validate_pages_schema(bad)
    assert "missing columns" in str(e.value)
    assert "type mismatches" in str(e.value)


def test_validate_pages_sample(spark, pages_small):
    from medical_and_charity_document_extraction_system_spark.sources.validate import (
        validate_pages_sample,
    )

    stats = validate_pages_sample(pages_small)
    assert stats["rows_sampled"] == 100
    assert stats["bad_schemes"] == 0


def test_deterministic_sample_is_stable_and_sized(spark):
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.range(10000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect()}
    b = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect()}
    assert a == b  # same membership every run
    assert 800 < len(a) < 1200  # ~10%
    sub = {r.doc_id for r in deterministic_sample(df, "doc_id", 0.05).collect()}
    assert sub <= a  # nested cutoffs -> nested samples


def test_assign_split_partitions_everything(spark):
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        assign_split,
    )

    df = spark.range(10000).withColumnRenamed("id", "doc_id")
    out = assign_split(df, "doc_id")
    counts = {r.split: r["count"] for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10000
    assert counts["train"] > 7500
    # stable: same doc -> same split on rerun
    a = {(r.doc_id, r.split) for r in out.collect()}
    b = {(r.doc_id, r.split) for r in assign_split(df, "doc_id").collect()}
    assert a == b


def test_api_process_documents(spark, pages_small):
    from medical_and_charity_document_extraction_system_spark.api import process_documents

    resp = process_documents(spark, pages_small)
    assert resp["status"] == "success"
    assert resp["results"].count() == 500


def test_api_engines_and_health(spark):
    from medical_and_charity_document_extraction_system_spark.api import (
        get_available_engines,
        health_check,
    )

    eng = get_available_engines()
    assert "stub" in eng["engines"] and eng["blocked"] == ["tesseract"]
    h = health_check(spark)
    assert h["status"] == "healthy" and h["default_parallelism"] >= 1
