"""Tests of the benchmark's own parts: the generator's expected records,
the oracle's catch of corrupted output, and the tracer's self times.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from medical_and_charity_document_extraction_system_spark.config import DEFAULT_CONFIG
from medical_and_charity_document_extraction_system_spark.plans import pipeline

from perfbench import gen, oracle
from perfbench.trace import Tracer


def _rows(corpus: str, n: int):
    rng = random.Random(f"{corpus}:7")
    docs = gen._documents(rng, n)
    if corpus == "crawl_mix":
        pairs = [gen._crawl_row(*d) for d in docs]
        return [p[0] for p in pairs], [p[1] for p in pairs]
    return gen._warc_rows(rng, docs, scanned_share=0.25)


@pytest.mark.parametrize("corpus", ["crawl_mix", "warc_mixed"])
def test_planted_records_match_the_extraction(corpus):
    rows, exps = _rows(corpus, 300)
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    out = next(pipeline._fused_stage(DEFAULT_CONFIG)(iter([pages[["url", "html", "text", "lang"]]])))
    assert list(out["url"]) == [e["url"] for e in exps]
    for rec, exp in zip(out.to_dict("records"), exps):
        for col in ("text", "spans", "processing_method", "page_count"):
            assert rec[col] == exp[col], (exp["url"], col)
    # every route occurs, so every layer of the stage is exercised
    assert {e["route"] for e in exps} == set(gen.ROUTES)


def test_compare_counts_each_kind_of_failure():
    expected = {"u1": 1, "u2": 2, "u3": 3, "u4": 4}
    observed = [("u1", 1), ("u1", 1), ("u2", 99), ("u4", 4), ("x", 5)]
    f = oracle.compare(expected, observed)
    assert f.duplicate == {"u1"}
    assert f.mismatch == {"u2"}
    assert f.missing == {"u3"}
    assert f.unexpected == {"x"}
    assert len(f) == 4
    assert len(oracle.compare(expected, expected.items())) == 0


def test_self_time_subtracts_covered_child_time():
    t = Tracer("w", "r")
    t.spans = [
        ["root", 0, 1000, -1],
        ["child", 100, 400, 0],
        ["child", 500, 600, 0],
        ["grandchild", 150, 250, 1],
        ["other", 2000, 2500, -1],
    ]
    layers = t.layers()
    assert layers["root"]["self_s"] == pytest.approx(600e-9)
    assert layers["child"]["self_s"] == pytest.approx(300e-9)
    assert layers["child"]["spans"] == 2
    assert layers["grandchild"]["self_s"] == pytest.approx(100e-9)
    assert t.traced_wall_s() == pytest.approx(1500e-9)


@pytest.fixture(scope="module")
def spark():
    from medical_and_charity_document_extraction_system_spark.session import get_spark

    os.environ.setdefault("PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    session = get_spark(app_name="perfbench-test", master="local[2]")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def test_oracle_catches_corrupted_output(spark, tmp_path):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from medical_and_charity_document_extraction_system_spark.plans import run_extraction

    rows, exps = _rows("crawl_mix", 200)
    gen._write_pages(rows, str(tmp_path / "pages"), n_files=4)
    gen._write_expected(exps, str(tmp_path / "expected.parquet"))
    expected = oracle.expected_summary(spark, str(tmp_path / "expected.parquet"))
    expected_hashes = dict(oracle.url_hashes(spark.read.parquet(str(tmp_path / "expected.parquet"))))
    out = run_extraction(spark.read.parquet(str(tmp_path / "pages"))).cache()

    obs = Observation("clean")
    out.observe(obs, *oracle.summary_columns()).write.format("noop").mode("overwrite").save()
    assert oracle.normalize(obs.get) == expected
    assert len(oracle.compare(expected_hashes, oracle.url_hashes(out))) == 0

    victim = exps[5]["url"]
    corrupted = {
        "text": out.withColumn(
            "text", F.when(F.col("url") == victim, F.concat("text", F.lit(" "))).otherwise(F.col("text"))
        ),
        "dropped": out.where(F.col("url") != victim),
        "duplicated": out.unionByName(out.where(F.col("url") == victim)),
        "method": out.withColumn(
            "processing_method",
            F.when(F.col("url") == victim, F.lit("error")).otherwise(F.col("processing_method")),
        ),
    }
    for name, df in corrupted.items():
        obs = Observation(name)
        df.observe(obs, *oracle.summary_columns()).write.format("noop").mode("overwrite").save()
        assert oracle.normalize(obs.get) != expected, name
        assert oracle.compare(expected_hashes, oracle.url_hashes(df)).urls == {victim}, name
    out.unpersist()
