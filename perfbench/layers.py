"""Per-layer measurements for the traced run, taken from outside the
program: spans around calls into the layers' public functions.

- Spark-side layers are whole jobs on the workload's own inputs, each to
  a ``noop`` sink: the input scan, an identity ``mapInPandas`` over the
  same columns (JVM -> Python -> JVM with no extraction), ``read_warc``
  alone, and the phases of ``job.main``.
- Python-side layers are timed in this process, on one core, over the
  first ``REPLAY_ROWS`` rows of the workload's pages table: the fused
  extraction stage is driven batch by batch with its layer functions
  wrapped in spans. Alternating replays with and without the wrappers
  give the tracing overhead.
"""

from __future__ import annotations

import glob
import time
from collections import Counter
from contextlib import ExitStack, nullcontext
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from medical_and_charity_document_extraction_system_spark import job as job_module
from medical_and_charity_document_extraction_system_spark.config import DEFAULT_CONFIG
from medical_and_charity_document_extraction_system_spark.functions.errors import classify_error
from medical_and_charity_document_extraction_system_spark.plans import pipeline
from medical_and_charity_document_extraction_system_spark.schema import (
    EXTRACTION_SCHEMA,
    METHOD_DIRECT,
    METHOD_ERROR,
    METHOD_HTML,
    METHOD_OCR,
)
from medical_and_charity_document_extraction_system_spark.sources import warc

from .gen import ROUTES, Corpus
from .jobs import noop
from .trace import Tracer

PAGE_COLS = ["url", "html", "text", "lang"]
REPLAY_ROWS = 4096  # 16 Arrow batches; every input file carries the full route mix

# every code functions/errors.classify_error can return for an error record
ERROR_CODES = (
    "MissingPayloadError",
    "DecodeError",
    "HtmlParseError",
    "PdfEncryptedError",
    "PdfEmptyError",
    "PdfCorruptedError",
    "RouteError",
    "UnknownError",
)


def _identity(batches):
    yield from batches


# ------------------------------------------------------------ Spark side
def scan_input(spark, workload: str, corpus: Corpus) -> None:
    if workload == "warc_mixed":
        noop(spark.read.format("binaryFile").load(corpus.warc_dir).select("content"))
    else:
        noop(spark.read.parquet(corpus.pages_dir).select(*PAGE_COLS))


def arrow_identity(pages_df) -> None:
    cols = pages_df.select(*PAGE_COLS)
    noop(cols.mapInPandas(_identity, schema=cols.schema))


def job_patches(tracer: Tracer) -> list:
    """Spans around the phases ``job.main`` calls by module name."""
    return [
        mock.patch.object(job_module, "validate_pages_schema", tracer.wrap("job.validate", job_module.validate_pages_schema)),
        mock.patch.object(job_module, "choose_layout", tracer.wrap("job.layout", job_module.choose_layout)),
        mock.patch.object(job_module, "run_checkpointed", tracer.wrap("job.checkpoint_write", job_module.run_checkpointed)),
        mock.patch.object(job_module, "write_metrics", tracer.wrap("job.metrics", job_module.write_metrics)),
    ]


# ----------------------------------------------------------- Python side
class _TracedEngine:
    def __init__(self, engine, tracer: Tracer) -> None:
        self.engine_name = engine.engine_name
        self.process_page = tracer.wrap(
            "engines.process_page",
            engine.process_page,
            lambda t, a, r: t.count("engines.process_page.words", len(r.get("words") or [])),
        )


def _stage_patches(tracer: Tracer) -> list:
    w = tracer.wrap
    get_engine = pipeline.get_engine
    engines: dict = {}

    def traced_engine(*args, **kwargs):
        eng = get_engine(*args, **kwargs)
        if id(eng) not in engines:
            engines[id(eng)] = _TracedEngine(eng, tracer)
        return engines[id(eng)]

    targets = {
        "main_text": w(
            "html_extract.main_text", pipeline.main_text,
            lambda t, a, r: t.count("html_extract.main_text.bytes", len(a[0])),
        ),
        "extract_spans": w(
            "fields.extract_spans", pipeline.extract_spans,
            lambda t, a, r: t.count("fields.extract_spans.spans", len(r)),
        ),
        "combine_page_results": w("rollup.combine_page_results", pipeline.combine_page_results),
        "extract_pdf_pages": w(
            "pdf.extract_pdf_pages", pipeline.extract_pdf_pages,
            lambda t, a, r: t.count("pdf.extract_pdf_pages.pages", len(r)),
        ),
        "is_scanned": w(
            "pdf.is_scanned", pipeline.is_scanned,
            lambda t, a, r: t.count("pdf.is_scanned.true", int(bool(r))),
        ),
        "preprocess_text": w("normalize.preprocess_text", pipeline.preprocess_text),
        "get_engine": traced_engine,
        "_records_frame": w("pipeline.records_frame", pipeline._records_frame),
    }
    return [mock.patch.object(pipeline, name, fn) for name, fn in targets.items()]


def _route(method: str, had_payload: bool) -> str:
    if method == METHOD_DIRECT:
        return "pdf_text" if had_payload else "direct"
    return {METHOD_HTML: "html", METHOD_OCR: "ocr", METHOD_ERROR: "error"}[method]


def _stage_replay(pages, tracer: Tracer | None) -> tuple[float, list]:
    """The fused stage over ``pages``, one Arrow batch at a time, each
    output frame converted to the ``EXTRACTION_SCHEMA`` Arrow table; with
    a ``tracer``, the layer functions are wrapped in spans. Returns (wall
    seconds, output frames)."""
    out_schema = to_arrow_schema(EXTRACTION_SCHEMA)
    batch_rows = DEFAULT_CONFIG.arrow_max_records
    span = tracer.span if tracer else (lambda name: nullcontext())
    frames = []
    with ExitStack() as stack:
        for patch in _stage_patches(tracer) if tracer else []:
            stack.enter_context(patch)
        stage = pipeline._fused_stage(DEFAULT_CONFIG)
        t0 = time.perf_counter()
        for start in range(0, len(pages), batch_rows):
            batch = pages.iloc[start : start + batch_rows]
            with span("pipeline.stage"):
                frame = next(stage(iter([batch])))
            with span("pipeline.arrow_out"):
                pa.Table.from_pandas(frame, schema=out_schema, preserve_index=False)
            frames.append(frame)
        wall = time.perf_counter() - t0
    return wall, frames


def python_replay(tracer: Tracer, workload: str, corpus: Corpus) -> dict:
    """Runs the fused extraction stage in this process over the first
    ``REPLAY_ROWS`` rows: untraced, traced, untraced, traced. The first
    traced pass is recorded in ``tracer``. Returns the replayed urls, the
    route counts, error classes and record count of that pass, and the
    tracing overhead: the fastest traced pass over the fastest untraced
    one (a single pass moves by ~5% on a shared box)."""
    if workload == "warc_mixed":
        for path in sorted(glob.glob(f"{corpus.warc_dir}/*.warc.gz")):
            with open(path, "rb") as f:
                data = f.read()
            with tracer.span("warc.gunzip"):
                stream = warc._gunzip_members(data)
            with tracer.span("warc.parse"):
                tracer.count("warc.records", len(warc.parse_warc(stream)))
    pages = pq.read_table(corpus.pages_dir, columns=PAGE_COLS).slice(0, REPLAY_ROWS).to_pandas()
    untraced = [_stage_replay(pages, None)[0]]
    with tracer.span("python.replay"):
        traced_s, frames = _stage_replay(pages, tracer)
    untraced.append(_stage_replay(pages, None)[0])
    traced = [traced_s, _stage_replay(pages, Tracer(tracer.workload, tracer.run_id))[0]]

    routes = Counter({r: 0 for r in ROUTES})
    errors = Counter({c: 0 for c in ERROR_CODES})
    batch_rows = DEFAULT_CONFIG.arrow_max_records
    for i, frame in enumerate(frames):
        payloads = pages["html"].iloc[i * batch_rows : (i + 1) * batch_rows]
        for method, payload in zip(frame["processing_method"], payloads):
            routes[_route(method, payload is not None)] += 1
        for msg in frame["error"]:
            if msg is not None:
                errors[classify_error(msg)[1]] += 1
    traced_s, untraced_s = min(traced), min(untraced)
    return {
        "urls": list(pages["url"]),
        "routes": dict(routes),
        "errors": dict(errors),
        "records": sum(len(f) for f in frames),
        "traced_s": traced_s,
        "untraced_s": untraced_s,
        "overhead_share": traced_s / untraced_s - 1,
    }


def expected_routes(corpus: Corpus, urls: list[str]) -> dict[str, int]:
    """Planted route counts over ``urls``."""
    table = pq.read_table(corpus.expected_path, columns=["url", "route"]).to_pydict()
    wanted = set(urls)
    routes = Counter({r: 0 for r in ROUTES})
    routes.update(r for u, r in zip(table["url"], table["route"]) if u in wanted)
    return dict(routes)
