"""Replicates the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 and compare row count,
column names, and order-insensitive values against the matching
``oracle_sql()`` run by DuckDB on the same parquet tables."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

from .conftest import SF_ORACLE

TABLES = ["events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    return v


def _rows(rows):
    # NULL-robust total order: None sorts before any value of any type
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda r: tuple((v is not None, str(type(v)), v if v is not None else 0)
                            for v in r),
    )


QUERY_NAMES = sorted(entry_mod.queries())
CATALOG = {e.name: e for e in entry_mod.CATALOG}


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    # only this row's oracle: building all of them takes ~70 s
    entry = CATALOG[name]
    sql = entry.oracle_sql(SF_ORACLE)
    sdf = entry.query(spark, SF_ORACLE)
    got_cols = [c.lower() for c in sdf.columns]
    got = _rows([tuple(r) for r in sdf.collect()])
    res = ddb.sql(sql)
    exp_cols = [c.lower() for c in res.columns]
    exp = _rows(res.fetchall())
    assert got_cols == exp_cols, f"{name}: column names differ"
    assert len(got) == len(exp), f"{name}: row count {len(got)} != {len(exp)}"
    mismatches = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "url" in df.columns and "text" in df.columns


def test_every_query_has_oracle_or_is_documented(spark):
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) == set(qs)


def test_catalog_names_are_unique():
    # queries() and oracle_sql() are dicts: a duplicate name would
    # silently drop a row from the gate
    names = [e.name for e in entry_mod.CATALOG]
    assert len(names) == len(set(names))


def test_bench_catalog_queries_exist():
    import bench

    assert set(bench.CATALOG_QUERIES) <= set(entry_mod.queries())


def test_gate_window_is_never_attested():
    # the correctness gate samples the FIRST 50 catalog entries: they
    # must all be queries no CORRECTNESS_r0*.json row has signed yet
    import json
    from pathlib import Path

    attested = set()
    for f in Path(entry_mod.__file__).parent.glob("CORRECTNESS_r0*.json"):
        attested |= set(json.loads(f.read_text()))
    assert attested, "no CORRECTNESS_r0*.json files found"
    window = list(entry_mod.queries())[:50]
    assert len(window) == 50
    assert not attested & set(window)


def test_stage_dir_sweep_removes_only_dead_owners(tmp_path):
    # a killed run never reaches atexit: the next process's first
    # _stage_dir call must remove its dirs, and only its dirs
    import os
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    tag = entry_mod._STAGE_TAG
    dead = tmp_path / f"{tag}{child.pid}_stream_hll_x1"
    live = tmp_path / f"{tag}{os.getpid()}_snapcdc_x2"
    other = tmp_path / "stream_hll_unrelated"
    for d in (dead, live, other):
        (d / "in").mkdir(parents=True)
    entry_mod._sweep_dead_stage_dirs(str(tmp_path))
    assert not dead.exists()
    assert live.exists() and other.exists()
