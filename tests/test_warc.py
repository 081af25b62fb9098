"""WARC(.gz) source tests (sources/warc.py)."""

import contextlib
import datetime
import gzip
import time

from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.sources.warc import (
    _gunzip_members,
    build_warc_record,
    pages_to_warc_files,
    parse_warc,
    read_warc,
)

TS = datetime.datetime(2026, 1, 1, 0, 2, 17)


def test_record_roundtrip_and_nonresponse_skipped():
    rec = build_warc_record(
        "https://h.example.com/doc/1", TS, b"<html>x</html>",
        "text/html; charset=utf-8", "de",
    )
    info = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\nabcd\r\n\r\n"
    )
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: https://x\r\n"
        b"Content-Length: 0\r\n\r\n\r\n\r\n"
    )
    out = parse_warc(info + req + rec)
    assert len(out) == 1
    r = out[0]
    assert r["url"] == "https://h.example.com/doc/1"
    assert r["warc_ts"] == TS
    assert r["payload"] == b"<html>x</html>"
    assert r["content_type"].startswith("text/html")
    assert r["lang"] == "de"


def test_multi_member_gzip_and_garbage_tail():
    a = gzip.compress(b"hello ", 6, mtime=0)
    b = gzip.compress(b"world", 6, mtime=0)
    assert _gunzip_members(a + b) == b"hello world"
    assert _gunzip_members(a + b"\x00\x01garbage") == b"hello "
    # garbage after many members keeps every earlier member
    many = [gzip.compress(b"%05d " % i, 6, mtime=0) for i in range(3000)]
    want = b"".join(b"%05d " % i for i in range(3000))
    assert _gunzip_members(b"".join(many) + b"\x1f\x8b\x08garbage") == want


def test_gunzip_members_is_linear_in_members():
    """Each member costs its own size, not the rest of the file's: 4x
    the members takes ~4x the time (re-slicing the rest per member took
    ~16x). Best of 5, the two sizes interleaved so a slow stretch of
    the box hits both."""

    def archive(n: int) -> bytes:
        return b"".join(gzip.compress(b"WARC/1.0 record %d\r\n" % i, 6, mtime=0) for i in range(n))

    archives = {n: archive(n) for n in (16_000, 64_000)}
    best = dict.fromkeys(archives, float("inf"))
    for _ in range(5):
        for n, data in archives.items():
            t = time.perf_counter()
            out = _gunzip_members(data)
            best[n] = min(best[n], time.perf_counter() - t)
            assert out.count(b"WARC/1.0") == n
    assert best[64_000] / best[16_000] < 8


def test_non_ascii_header_keeps_the_file(spark, tmp_path):
    """A record whose language header is not ASCII is still read, and
    the good record beside it is kept: no task failure."""
    good = build_warc_record("https://a.example.com/1", TS, b"<p>ok</p>", "text/html", "en")
    bad = build_warc_record("https://a.example.com/2", TS, b"fine", "text/plain", "en").replace(
        b"WARC-Identified-Content-Language: en", b"WARC-Identified-Content-Language: \xff\xfe"
    )
    (tmp_path / "w").mkdir()
    with open(tmp_path / "w" / "one.warc.gz", "wb") as f:
        f.write(gzip.compress(good, 6, mtime=0) + gzip.compress(bad, 6, mtime=0))
    rows = {r.url: r for r in read_warc(spark, str(tmp_path / "w")).collect()}
    assert rows["https://a.example.com/1"].lang == "en"
    assert rows["https://a.example.com/2"].lang == "\xff\xfe"
    assert rows["https://a.example.com/2"].text == "fine"


def test_malformed_record_degrades():
    good = build_warc_record("https://a", TS, b"ok", "text/plain")
    bad = b"WARC/1.0\r\nContent-Length: notanumber\r\n\r\n"
    assert len(parse_warc(good + bad)) == 1
    assert parse_warc(b"random junk no records") == []
    # leading junk before the first record is skipped to the magic
    assert len(parse_warc(b"garbage" + good)) == 1


def test_warc_files_roundtrip_pages(spark, pages_small, tmp_path):
    """pages -> .warc.gz files -> read_warc == original pages
    (url/ts/lang and the html-XOR-text routing)."""
    paths = pages_to_warc_files(pages_small, str(tmp_path / "w"), n_files=4)
    assert len(paths) >= 4 and all(p.endswith(".warc.gz") for p in paths)
    back = read_warc(spark, str(tmp_path / "w"))
    orig = {r.url: r for r in pages_small.collect()}
    got = {r.url: r for r in back.collect()}
    assert set(got) == set(orig)
    for url, o in orig.items():
        g = got[url]
        assert g.warc_ts == o.warc_ts and g.lang == o.lang
        if o.text is not None:
            assert g.text == o.text and g.html is None
        else:
            assert bytes(g.html) == bytes(o.html) and g.text is None


def test_extraction_over_warc_is_one_stage_and_matches_parquet(spark, pages_small, tmp_path):
    """``run_extraction(read_warc(...))`` parses and extracts in ONE
    mapInArrow, with the same records as the pages read from parquet."""
    from medical_and_charity_document_extraction_system_spark.plans import run_extraction

    from .test_plans import plan_of

    pages_to_warc_files(pages_small, str(tmp_path / "w"), n_files=4)
    pages_small.write.parquet(str(tmp_path / "p"))
    fused = run_extraction(read_warc(spark, str(tmp_path / "w")))
    assert plan_of(fused, "simple").count("MapInArrow") == 1
    want = run_extraction(spark.read.parquet(str(tmp_path / "p")))
    got = {r.url: r for r in fused.collect()}
    assert len(got) == pages_small.count()
    assert got == {r.url: r for r in want.collect()}


def test_warc_files_deterministic(spark, pages_small, tmp_path):
    a = pages_to_warc_files(pages_small, str(tmp_path / "a"), n_files=3)
    b = pages_to_warc_files(pages_small, str(tmp_path / "b"), n_files=3)
    assert [open(p, "rb").read() for p in a] == [open(p, "rb").read() for p in b]


def test_read_warc_provenance_column(spark, pages_small, tmp_path):
    paths = pages_to_warc_files(pages_small, str(tmp_path / "w"), n_files=3)
    back = read_warc(spark, str(tmp_path / "w"), with_provenance=True)
    assert "warc_file" in back.columns
    rows = back.select("url", "warc_file").collect()
    assert all(r.warc_file.endswith(".warc.gz") for r in rows)
    # every member file contributed, and counts reconcile
    assert len({r.warc_file.rsplit("/", 1)[-1] for r in rows}) == len(paths)
    assert len(rows) == pages_small.count()


# 2026-01-01T00:00:00Z as epoch seconds
NEW_YEAR_UTC = 1767225600


@contextlib.contextmanager
def _session_time_zone(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_warc_writer_dates_are_utc_under_non_utc_session(spark, tmp_path):
    """``WARC-Date`` is the page's instant in UTC whatever the session
    time zone is."""
    page = spark.range(1).select(
        F.lit("https://tz.example.com/1").alias("url"),
        F.timestamp_seconds(F.lit(NEW_YEAR_UTC)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("hello").alias("text"),
        F.lit("en").alias("lang"),
    )
    with _session_time_zone(spark, "America/New_York"):
        (path,) = pages_to_warc_files(page, str(tmp_path / "w"), n_files=1)
    stream = _gunzip_members(open(path, "rb").read())
    assert b"WARC-Date: 2026-01-01T00:00:00Z\r\n" in stream


def test_warc_reader_dates_are_utc_under_non_utc_session(spark, tmp_path):
    """A ``WARC-Date`` read back under a non-UTC session is the same
    instant, not its wall clock re-read in the session zone."""
    rec = build_warc_record(
        "https://tz.example.com/1", datetime.datetime(2026, 1, 1), b"hi", "text/plain"
    )
    (tmp_path / "r").mkdir()
    (tmp_path / "r" / "one.warc.gz").write_bytes(gzip.compress(rec, 6, mtime=0))
    with _session_time_zone(spark, "America/New_York"):
        back = read_warc(spark, str(tmp_path / "r"))
        (row,) = back.select(F.col("warc_ts").cast("long").alias("s")).collect()
    assert row.s == NEW_YEAR_UTC
