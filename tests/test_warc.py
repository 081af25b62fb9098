"""WARC(.gz) source tests (sources/warc.py)."""

import datetime
import gzip

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
