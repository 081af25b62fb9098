"""WARC(.gz) source — Common Crawl's native container, read natively.

The north rule's input is an "Iceberg table of Common-Crawl-style web
pages"; the crawl itself ships as WARC files (ISO 28500): per-record
gzip members, each holding a WARC header block + an HTTP response.
This module ingests that format straight into the pages schema
(url, warc_ts, html, text, lang) — the path a real deployment runs
BEFORE the engine's parquet/Iceberg tables exist.

Scale model: one ``.warc.gz`` file per task via Spark's ``binaryFile``
source — exactly how crawl archives are processed in practice (the
gzip stream is not block-splittable; Common Crawl publishes ~1 GB
files in the tens of thousands, so parallelism comes from file count,
and ``spark.sql.files.maxPartitionBytes`` is irrelevant here). Records
are parsed inside one Arrow row stage, and ``run_extraction`` over
``read_warc`` fuses into it (stage.py): each file is gunzipped, parsed
and extracted in one Python task, with no second stage and no pass of
the parsed pages through the JVM. Malformed records degrade to skipped
and non-ASCII header values decode as Latin-1, never task failures.

The writer produces real archives for tests/fixtures and round-trip
proofs: each record is an independent gzip member (the Common Crawl
convention — readers can seek to member boundaries), ``mtime=0`` so
output is byte-deterministic, and EVERY partition writes its own
file from the executor (the driver only collects paths + counts, so
no corpus bytes ever funnel through it). A petabyte-scale WARC
*sink* would wrap the same per-partition write in a Hadoop
OutputFormat commit protocol.

Non-response records (warcinfo, request, metadata) are skipped.
``text/plain`` payloads land in the ``text`` column, everything else
(html, pdf, junk) in ``html`` — the same routing contract
``sources/pages.synthesize_pages`` produces, which is what lets the
flagship construction oracle verify a WARC-fed extraction run
bit-for-bit (catalog query ``warc_extraction``).
"""

from __future__ import annotations

import datetime
import gzip
import zlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import PAGES_SCHEMA
from ..stage import map_rows

_CRLF2 = b"\r\n\r\n"
_FEED = 4096  # first piece of a gzip member fed to zlib (_gunzip_members)


# ----------------------------------------------------------------- write
def build_warc_record(
    url: str,
    ts: datetime.datetime,
    payload: bytes,
    content_type: str,
    lang: str | None = None,
) -> bytes:
    """One WARC response record wrapping an HTTP/1.1 200 response.
    ``WARC-Date`` is UTC: an aware ``ts`` is converted, a naive one is
    taken as UTC."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc)
    http = (
        b"HTTP/1.1 200 OK\r\n"
        + b"Content-Type: " + content_type.encode("ascii") + b"\r\n"
        + b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
        + payload
    )
    headers = [
        b"WARC/1.0",
        b"WARC-Type: response",
        b"WARC-Target-URI: " + url.encode("utf-8"),
        b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode("ascii"),
        b"Content-Type: application/http; msgtype=response",
        b"Content-Length: " + str(len(http)).encode(),
    ]
    if lang:
        headers.append(
            b"WARC-Identified-Content-Language: " + lang.encode("ascii")
        )
    return b"\r\n".join(headers) + _CRLF2 + http + _CRLF2


def pages_to_warc_files(
    pages: DataFrame, out_dir: str, n_files: int = 8
) -> list[str]:
    """Pages rows -> up to ``n_files`` real ``.warc.gz`` files under
    ``out_dir``. Each partition builds, gzips AND WRITES its own
    archive from the executor (temp file + ``os.replace`` so reruns
    are atomic), yielding only (path, n_records) back — the driver
    never holds archive bytes, so the write path scales with file
    count, not corpus size. Byte-determinism contract: the
    url-hash repartition fixes which file each record lands in, the
    in-partition url sort fixes member order, and ``mtime=0`` fixes
    the gzip bytes — two runs produce identical files. At petabyte
    scale ``out_dir`` is a shared filesystem path (HDFS/S3 fuse); a
    Hadoop OutputFormat sink remains the module-docstring story."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def member(row: dict) -> bytes:
        if row["text"] is not None:
            payload, ctype = row["text"].encode("utf-8"), "text/plain; charset=utf-8"
        else:
            payload, ctype = row["html"], "application/octet-stream"
        rec = build_warc_record(row["url"], row["warc_ts"], payload, ctype, row["lang"])
        return gzip.compress(rec, 6, mtime=0)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        # one partition may arrive as several Arrow batches: gather
        # them all before sorting, or member order would depend on
        # batch boundaries
        parts = list(batches)
        if not sum(b.num_rows for b in parts):
            return
        # shuffle-fetch order is NOT deterministic: sort by url inside
        # the partition (stable) so two runs concatenate members in
        # identical order (the byte-determinism contract)
        table = pa.Table.from_batches(parts).sort_by("url")
        # repartition(n, "url") maps urls to partition ids by hash —
        # deterministic, so the file name is stable across runs
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        tmp = f"{path}.inprogress-{os.getpid()}"
        with open(tmp, "wb") as f:
            for row in table.to_pylist():
                f.write(member(row))
        os.replace(tmp, path)
        yield pa.RecordBatch.from_pydict({"path": [path], "n_records": [table.num_rows]})

    # the collect is bounded by FILE count (one tiny row per non-empty
    # partition), never by corpus size
    rows = (
        pages.select(*PAGES_SCHEMA.names)
        .repartition(n_files, "url")
        .mapInArrow(run, "path string, n_records long")
        .collect()
    )
    return sorted(r.path for r in rows)


# ------------------------------------------------------------------ read
def _gunzip_members(data: bytes) -> bytes:
    """Concatenated gzip members -> concatenated plaintext (zlib
    member loop; gzip.decompress also handles multi-member, but the
    explicit loop recovers cleanly from trailing garbage: a member
    that fails to inflate, and all after it, add nothing).

    Each member is fed zero-copy ``memoryview`` pieces that double
    from ``_FEED``, so its leftover ``unused_data`` copy is bounded by
    about its own compressed size and the loop is linear in members;
    handing zlib the whole rest of the file per member would make it
    quadratic."""
    out = bytearray()
    view = memoryview(data)
    pos, n = 0, len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=47)
        kept, step = len(out), _FEED
        try:
            while not d.eof and pos < n:
                piece = view[pos : pos + step]
                pos += len(piece)
                step *= 2
                out += d.decompress(piece)
        except zlib.error:
            del out[kept:]
            break
        pos -= len(d.unused_data)
    return bytes(out)


def parse_warc(stream: bytes) -> list[dict]:
    """Decompressed WARC stream -> list of response-record dicts
    (url, warc_ts, payload, content_type, lang). Malformed records
    stop the scan for that file (degrade, never raise)."""
    out = []
    pos = 0
    n = len(stream)
    while pos < n:
        if stream[pos : pos + 5] != b"WARC/":
            nxt = stream.find(b"WARC/1.", pos)
            if nxt == -1:
                break
            pos = nxt
        hdr_end = stream.find(_CRLF2, pos)
        if hdr_end == -1:
            break
        headers = {}
        for line in stream[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        body = stream[hdr_end + 4 : hdr_end + 4 + length]
        pos = hdr_end + 4 + length + 4  # trailing \r\n\r\n
        if headers.get(b"warc-type") != b"response":
            continue
        url = headers.get(b"warc-target-uri", b"").decode("utf-8", "replace")
        ts = None
        try:
            ts = datetime.datetime.strptime(
                headers.get(b"warc-date", b"").decode("ascii"),
                "%Y-%m-%dT%H:%M:%SZ",
            )
        except ValueError:
            pass
        lang = headers.get(b"warc-identified-content-language")
        http_end = body.find(_CRLF2)
        if http_end == -1:
            continue
        ctype = b""
        for line in body[:http_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if k.strip().lower() == b"content-type":
                ctype = v.strip()
        out.append(
            {
                "url": url,
                "warc_ts": ts,
                "payload": body[http_end + 4 :],
                "content_type": ctype.decode("latin-1"),
                "lang": lang.decode("latin-1") if lang else None,
            }
        )
    return out


def read_warc(
    spark: SparkSession, path: str, with_provenance: bool = False
) -> DataFrame:
    """``.warc.gz`` files -> pages DataFrame (url, warc_ts, html,
    text, lang). One file per task (binaryFile source).
    ``with_provenance`` appends ``warc_file`` — which archive each
    page came from (the lineage column a crawl pipeline records so a
    bad extraction can be traced to its source file and that one file
    reprocessed); the extraction plan's column pruning drops it for
    free when unused."""
    cols = ["content"] + (["path"] if with_provenance else [])
    files = spark.read.format("binaryFile").load(path).select(*cols)
    schema = (
        PAGES_SCHEMA
        if not with_provenance
        else T.StructType(PAGES_SCHEMA.fields + [T.StructField("warc_file", T.StringType(), True)])
    )

    def pages(content: bytes, src: str | None = None) -> Iterator[dict]:
        for rec in parse_warc(_gunzip_members(content)):
            plain = rec["content_type"].startswith("text/plain")
            yield {
                "url": rec["url"],
                # naive UTC: Arrow stores it as that instant
                "warc_ts": rec["warc_ts"],
                "html": None if plain else rec["payload"],
                "text": rec["payload"].decode("utf-8", "replace") if plain else None,
                "lang": rec["lang"],
                "warc_file": src,
            }

    return map_rows(files, schema, pages)
