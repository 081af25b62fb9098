"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``CATALOG`` is the ordered catalog table: one row per implemented
operator from SURVEY.md section 2, pairing its Spark query with the
builder of its DuckDB twin (construction oracles for the extraction
pipeline, expression twins for the analytics — see
medical_and_charity_document_extraction_system_spark/oracles.py).
``queries()`` and ``oracle_sql()`` are views of it.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial, wraps
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark import oracles
from medical_and_charity_document_extraction_system_spark.functions import textstats as ts
from medical_and_charity_document_extraction_system_spark.operators.rollup import rollup_pages
from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.sources import synthesize_pages

SF_DEFAULT = "/root/testdata/sf0.001"
SF_GATE = "/root/testdata/sf0.01"

_STREAM_STAGE_DIRS: list[str] = []
_STAGE_TAG = "spark_entry_stage_"


def _sweep_dead_stage_dirs(root: str) -> None:
    """Remove staging dirs under ``root`` whose owning process is gone.
    atexit never runs in a killed process, so without this sweep every
    killed gate/bench run leaves its corpus copies behind for good."""
    import glob
    import os
    import shutil

    for path in glob.glob(os.path.join(root, f"{_STAGE_TAG}*")):
        pid = os.path.basename(path)[len(_STAGE_TAG):].split("_", 1)[0]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(path, ignore_errors=True)
        except PermissionError:  # alive, owned by another user
            pass


def _stage_dir(prefix: str) -> str:
    """Corpus-sized streaming staging dirs, named for the owning pid
    and removed at process exit. (The returned catalog DataFrames read
    the staged parquet lazily — the driver materializes them before
    exit, so exit-time removal is the earliest safe point; the first
    call in a process also sweeps the dirs of dead processes.)"""
    import atexit
    import os
    import shutil
    import tempfile

    if not _STREAM_STAGE_DIRS:
        _sweep_dead_stage_dirs(tempfile.gettempdir())
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True) for d in _STREAM_STAGE_DIRS]
        )
    base = tempfile.mkdtemp(prefix=f"{_STAGE_TAG}{os.getpid()}_{prefix}")
    _STREAM_STAGE_DIRS.append(base)
    return base


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_EXTRACT_CACHE: dict[tuple[str, str], DataFrame] = {}


def _extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction output, cached per (session, sf_dir): six catalog
    queries project/aggregate the same 500-row pipeline result — one
    cached run instead of six end-to-end re-executions. Keyed on
    applicationId, which is unique per session lifetime (an id(spark)
    key can be reused by a new session after GC of a stopped one)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _EXTRACT_CACHE.get(key)
    if df is None:
        df = run_extraction(synthesize_pages(spark, sf_dir)).cache()
        _EXTRACT_CACHE[key] = df
    return df


def _doc_id():
    # classic-mode Columns need an active session; build lazily
    return F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id")


# --------------------------------------------------------------- queries
def _doc_record_cols(out: DataFrame) -> DataFrame:
    return out.select(
        _doc_id(),
        "url",
        "is_scanned",
        "processing_method",
        "page_count",
        "total_characters",
        "total_words",
        "average_confidence",
        "text",
        "engine",
        "lang",
    )


def q_extraction_doc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full end-to-end extraction, one document record per url
    (reference document record shape, ocr_service.py:215-227)."""
    return _doc_record_cols(_extract(spark, sf_dir))


def q_warc_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME extraction pipeline fed from REAL Common-Crawl-format
    input: pages written as per-record-gzip ``.warc.gz`` files
    (sources/warc.py), read back through the binaryFile one-file-per-
    task path, parsed, and extracted. Oracle: the flagship
    construction oracle — WARC-fed output must match it bit-for-bit,
    proving container-faithful ingestion of the crawl's native
    format."""
    from medical_and_charity_document_extraction_system_spark.sources.warc import (
        pages_to_warc_files,
        read_warc,
    )

    base = _stage_dir("warc_")
    pages_to_warc_files(synthesize_pages(spark, sf_dir), f"{base}/warc", n_files=8)
    return _doc_record_cols(run_extraction(read_warc(spark, f"{base}/warc")))


def q_stream_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME extraction plan executed as a Structured Streaming job
    (``trigger(availableNow=True)`` one-shot backfill through
    streaming/stream.run_extraction_stream): pages staged to parquet,
    streamed through readStream -> mapInPandas -> writeStream, result
    read back as a batch table. Oracle: the batch construction oracle
    — streamed output must match it bit-for-bit, proving the engine's
    batch/streaming parity on the flagship path."""
    from medical_and_charity_document_extraction_system_spark.streaming import (
        run_extraction_stream,
    )

    base = _stage_dir("stream_catalog_")
    inp, outp, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    synthesize_pages(spark, sf_dir).write.mode("overwrite").parquet(inp)
    q = run_extraction_stream(spark, inp, outp, ck)
    q.awaitTermination()
    return _doc_record_cols(spark.read.parquet(outp))


def q_stream_host_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window per-host page rates as an
    availableNow stream (streaming/stream.host_rate_stream). Oracle:
    counts AND the append-mode emission rule (window_end <=
    max(event_time) - watermark) reconstructed arithmetically — the
    gate pins watermark semantics (oracles.stream_host_rate_sql)."""
    from medical_and_charity_document_extraction_system_spark.streaming import (
        host_rate_stream,
    )

    base = _stage_dir("stream_rate_")
    inp, outp, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    synthesize_pages(spark, sf_dir).write.mode("overwrite").parquet(inp)
    q = host_rate_stream(spark, inp, outp, ck)
    q.awaitTermination()
    return spark.read.parquet(outp).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "host",
        "n_pages",
    )


def q_stream_host_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-host running page totals. Fed as ONE micro-batch (single input
    file, maxFilesPerTrigger above it), so each host emits exactly its
    final running row — deterministic, hence oracle-checkable: the
    totals must equal the per-host page counts the construction
    oracle derives from doc_id arithmetic."""
    from medical_and_charity_document_extraction_system_spark.streaming import (
        host_running_totals_stream,
    )

    base = _stage_dir("stream_tot_")
    inp, outp, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    synthesize_pages(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(inp)
    q = host_running_totals_stream(
        spark, inp, outp, ck, max_files_per_trigger=64
    )
    q.awaitTermination()
    return spark.read.parquet(outp).select("host", "total_pages")


def q_stream_snapshot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming extraction committed into the snapshot-versioned
    table via foreachBatch — one append snapshot per micro-batch
    (streaming/stream.extraction_to_snapshot_stream). The final table
    read must match the flagship construction oracle, proving the
    stream -> versioned-sink path loses and duplicates nothing."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        extraction_to_snapshot_stream,
    )

    base = _stage_dir("stream_snap_")
    inp, tbl, ck = f"{base}/in", f"{base}/tbl", f"{base}/ck"
    synthesize_pages(spark, sf_dir).write.mode("overwrite").parquet(inp)
    q = extraction_to_snapshot_stream(spark, inp, tbl, ck)
    q.awaitTermination()
    return _doc_record_cols(SnapshotTable(spark, tbl).read())


def q_extraction_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded field spans with char offsets (reference word-record
    analog, easyocr_engine.py:79-91)."""
    out = _extract(spark, sf_dir)
    s = out.select(_doc_id(), F.explode("spans").alias("s"))
    return s.select(
        "doc_id",
        F.col("s.field").alias("field"),
        F.col("s.value").alias("value"),
        F.col("s.start").alias("span_start"),
        F.col("s.end").alias("span_end"),
    )


def q_rollup_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed A1 rollup (ocr_service.py:188-227) over documents
    grouped as synthetic 'pages' of their source."""
    docs = _docs(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    pages = docs.select(
        "source", "text", F.row_number().over(w).alias("page_number"),
        F.lit(100.0).alias("confidence"),
    )
    return rollup_pages(pages, key="source").select(
        "source", "page_count", "total_characters", "text"
    )


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.token_count(F.col("text")).alias("n_tokens")
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.bpe_token_count(F.col("text")).alias("n_bpe_tokens")
    )


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming<=3 near-dup pairs via 16-bit chunk blocking.
    Oracle: full from-scratch SQL recompute (md5-derived token hashes,
    bit voting, chunk blocking — oracles.simhash_near_dup_sql)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import simhash_near_dup

    return simhash_near_dup(_docs(spark, sf_dir))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        ts.token_count(t).alias("n_tokens"),
        ts.stopword_ratio(t).alias("stopword_ratio"),
        ts.punct_ratio(t).alias("punct_ratio"),
        ts.quality_score(t).alias("quality"),
    )


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.lang_guess(F.col("text")).alias("lang_guess")
    )


def q_lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the corpus
    quality dashboard for language metadata drift (web crawls lie
    about lang constantly; this is the table that quantifies it)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            F.col("lang").alias("declared"),
            ts.lang_guess(F.col("text")).alias("detected"),
        )
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", ts.fingerprint_md5(F.col("text")).alias("fp")
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy(ts.fingerprint_md5(F.col("text")).alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", ts.word_shingles_fast(3)(F.col("text")).alias("sh")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    joined = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    return joined.where(
        (F.size("a.sh") > 0) & (F.size("b.sh") > 0)
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        ts.jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _cos(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k to the vec_id=0 embedding. Scale path:
    broadcast the query vector; the scan stays embarrassingly parallel."""
    e = _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = F.broadcast(e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv")))
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", _cos(F.col("v"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-duplicates above 0.3, computed as a
    blocked GEMM against a broadcast normalized matrix (one numpy
    matmul per partition — ~2,000x faster per pair than the
    interpreted JVM fold-dot crossJoin it replaced). The LSH-bucketed
    variant in operators/similarity.py is the beyond-broadcast scale
    path."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        embedding_near_dup_exact,
    )

    return embedding_near_dup_exact(_embeddings(spark, sf_dir), threshold=0.3)


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-broadcast scale path for embedding near-dup: LSH
    bucket-join candidate generation + exact-cosine verification — no
    driver collect, the only shuffle is bucket-key equality. Oracle:
    DuckDB re-derives the same seeded projection constants, buckets,
    candidates and fold-dot verification from scratch
    (oracles.embedding_near_dup_lsh_sql)."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    return embedding_near_dup_lsh(_embeddings(spark, sf_dir), dim=64, threshold=0.3)


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (shingle->minhash->band->bucket-join) with
    exact-Jaccard verification; at j>=0.9 the result equals the true
    pair set, which is what the oracle computes all-pairs."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        minhash_near_dup,
    )

    return minhash_near_dup(_docs(spark, sf_dir), threshold=0.9)


def q_minhash_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-recrawl path: even-id docs are signed ONCE into a
    persisted signature store; odd-id docs (the new batch) join
    against the stored band keys without re-signing the corpus. Union
    of batch1-internal pairs + incremental pairs must equal the
    full-batch pair set — which is exactly what the oracle (true
    all-pairs jaccard) computes, so the gate pins the incremental
    layout's completeness."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        incremental_minhash_near_dup,
        minhash_near_dup,
        write_signature_store,
    )

    docs = _docs(spark, sf_dir)
    batch1 = docs.where("doc_id % 2 = 0")
    batch2 = docs.where("doc_id % 2 = 1")
    store = f"{_stage_dir('sigstore_')}/sigs"
    write_signature_store(batch1, store)
    stored = spark.read.parquet(store)
    return minhash_near_dup(batch1, threshold=0.9).unionByName(
        incremental_minhash_near_dup(batch2, stored, docs, threshold=0.9)
    )


def q_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs closed into dedup GROUPS: connected components
    by iterative min-label propagation (the step that turns pairwise
    similarity into keep-lists). Oracle: the same closure as a DuckDB
    RECURSIVE CTE over the exact all-pairs jaccard graph — an
    iterative Spark algorithm checked against recursive SQL."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        connected_components,
        minhash_near_dup,
    )

    pairs = minhash_near_dup(_docs(spark, sf_dir), threshold=0.9)
    return connected_components(pairs)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints. Oracle: bit-voting recomputed
    from scratch in SQL over md5-derived token hashes
    (oracles.simhash_sql)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH. Oracle: the
    seeded projection constants are re-derived as SQL literals and
    DuckDB recomputes buckets, the candidate set, and exact-cosine
    scoring from scratch (oracles.ann_topk_lsh_sql); pytest keeps the
    numpy recall oracle."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        ann_topk_lsh,
    )

    emb = _embeddings(spark, sf_dir)
    q = emb.where(F.col("vec_id") == 0).first().embedding
    return ann_topk_lsh(emb.where("vec_id <> 0"), [float(x) for x in q], 10, tables=16, bits=4)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload -> feature stage (decode
    stubbed; deterministic fake payloads). Oracle: payload length and
    kind are doc_id arithmetic (oracles.media_features_sql)."""
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    media = attach_fake_media(_docs(spark, sf_dir))
    return extract_media_features(media).select("media_id", "kind", "n_bytes")


def q_merge_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-merge of N inputs + A4 count rollup (reference merge_pdfs,
    pdf_service.py:23-85)."""
    from medical_and_charity_document_extraction_system_spark.operators.maintenance import merge_sources

    docs = _docs(spark, sf_dir)
    merged = merge_sources(docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"))
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_retention_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention keep-filter survivors per type (reference
    cleanup_files, file_utils.py:75-126)."""
    import datetime

    from medical_and_charity_document_extraction_system_spark.operators.maintenance import retention_filter

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    kept = retention_filter(ev, "ts", datetime.datetime(2024, 1, 15))
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


def q_image_preprocess(
    spark: SparkSession, sf_dir: str, codec: str = "netpbm"
) -> DataFrame:
    """Full E/D/K/B image chain over binary page images in the
    ``codec`` container (netpbm, or the pure-Python png/jpeg/gif/bmp/
    tiff/webp codecs under functions/). Oracle: golden-fixture
    construction — the same deterministic kernels run once
    single-process on the driver and the expected
    (width, height, skew_angle) land in the SQL as literals
    (oracles.image_preprocess_sql); pytest carries the independent
    planted-skew oracle (tests/test_preprocess_stage.py). PNG, BMP and
    TIFF are lossless gray containers, so the netpbm rows ARE their
    expected rows (container-independent decode). JPEG is lossy and
    GIF/WebP decode to RGB (H, W, 3), so their oracles run the same
    encode->decode round trip driver-side, over exactly the pixels
    the executors see."""
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import attach_page_images
    from medical_and_charity_document_extraction_system_spark.operators.preprocess import preprocess_images

    docs = _docs(spark, sf_dir).where("doc_id < 200")
    return preprocess_images(attach_page_images(docs, codec=codec)).select(
        "media_id", "width", "height", "skew_angle", "error"
    )


def _image_preprocess_in(codec: str) -> Callable[[SparkSession, str], DataFrame]:
    """``q_image_preprocess`` over ``codec`` payloads as a catalog
    callable named ``q_image_preprocess_<codec>``."""

    @wraps(q_image_preprocess)
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return q_image_preprocess(spark, sf_dir, codec)

    q.__name__ = q.__qualname__ = f"q_image_preprocess_{codec}"
    return q


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage (binary netpbm -> numpy nearest-
    neighbor -> binary) over synthetic page images. Oracle: output
    dims/error are pure arithmetic; pixel correctness is pytest's
    (tests/test_multimodal.py)."""
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
        resize_images,
    )

    docs = _docs(spark, sf_dir).where("doc_id < 200")
    return resize_images(attach_page_images(docs), height=64, width=128).select(
        "media_id", "width", "height", "error"
    )


def q_merge_pdf_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed merged-PDF artifact (reference merge_pdfs,
    pdf_service.py:23-85): every document becomes a real one-page
    %PDF, merged per source via grouped applyInPandas. Oracle: group
    arithmetic over documents; the merged binary itself is
    pytest-checked (tests/test_minipdf.py)."""
    from medical_and_charity_document_extraction_system_spark.operators.maintenance import (
        merge_pdfs_by_key,
    )
    from medical_and_charity_document_extraction_system_spark.operators.pdf import docs_to_pdfs

    pdfs = docs_to_pdfs(_docs(spark, sf_dir))
    merged = merge_pdfs_by_key(pdfs, key_col="source", payload_col="pdf", order_col="doc_id")
    return merged.select("source", "page_count", "n_inputs", "n_skipped")


def q_stream_dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup by url (dropDuplicatesWithinWatermark):
    every url is fed twice (a full re-crawl); exactly one row per url
    must survive. Oracle: the synthesized url universe (doc_id
    arithmetic)."""
    from medical_and_charity_document_extraction_system_spark.streaming import dedup_url_stream

    base = _stage_dir("stream_dd_")
    inp, outp, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
    pages = synthesize_pages(spark, sf_dir)
    pages.unionByName(pages).write.mode("overwrite").parquet(inp)
    q = dedup_url_stream(spark, inp, outp, ck)
    q.awaitTermination()
    return spark.read.parquet(outp).select("url")


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: each document cut into 32-token windows
    overlapping by 8 (operators/chunking.py) — pure JVM
    sequence/slice/join flatMap, zero shuffle. Oracle: the same
    integer window arithmetic over the parity tokenizer in SQL."""
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        chunk_documents,
    )

    return chunk_documents(_docs(spark, sf_dir), chunk_size=32, overlap=8)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (functions/urlnorm.py): four dirty
    spellings per target url (scheme/case/port/fragment/tracking-param
    variants, doc_id arithmetic) collapse to canonical groups; real
    query params survive. Oracle: DuckDB rebuilds the dirty urls AND
    re-runs every canonicalization step from scratch."""
    from medical_and_charity_document_extraction_system_spark.functions.urlnorm import (
        canonical_url,
    )

    docs = _docs(spark, sf_dir)
    d2 = (F.col("doc_id") / 2).cast("long")
    host = F.concat(F.lit("host"), (d2 % 20).cast("string"), F.lit(".example.com"))
    path = F.concat(F.lit("/doc/"), d2.cast("string"))
    v = F.col("doc_id") % 4
    dirty = (
        F.when(v == 0, F.concat(F.lit("https://"), host, path))
        .when(v == 1, F.concat(F.lit("http://"), F.upper(host), F.lit(":80"), path, F.lit("/")))
        .when(v == 2, F.concat(F.lit("https://"), host, path,
                               F.lit("/?utm_source=feed&utm_medium=email")))
        .otherwise(F.concat(F.lit("https://"), host, F.lit(":443"), path,
                            F.lit("?utm_campaign=x&page=2#frag")))
    )
    return (
        docs.select("doc_id", canonical_url(dirty).alias("curl"))
        .groupBy("curl")
        .agg(F.count(F.lit(1)).alias("n_variants"), F.min("doc_id").alias("keeper"))
    )


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/field redaction over the extraction output
    (functions/redact.py): names, amounts, invoice ids, dates,
    diagnosis codes, emails, SSNs masked by one rule table compiled to
    JVM regexp_replace. Oracle: the SAME table compiled to DuckDB
    regexp_replace('g') over the reconstructed text — full redacted
    strings hash-compared."""
    from medical_and_charity_document_extraction_system_spark.functions.redact import (
        redact_text,
    )

    out = _extract(spark, sf_dir)
    return out.select(_doc_id(), redact_text(F.col("text")).alias("redacted"))


BM25_TERMS = ["table", "scan", "index"]


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 over the documents table for a fixed query. Corpus
    stats reduce to integers; idf/avgdl are Python-math literals
    injected into BOTH engines' scoring trees (no engine-side ln —
    keeps the gate bit-exact; see operators/sessions.bm25_scores)."""
    from medical_and_charity_document_extraction_system_spark.operators.sessions import (
        bm25_scores,
    )

    return bm25_scores(_docs(spark, sf_dir), BM25_TERMS)


def q_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming re-crawl upsert: originals stream into the snapshot
    table, then a second (recrawl) stream MERGEs revisions + new docs
    by key (streaming/stream.recrawl_merge_stream -> SnapshotTable.
    merge). The final read must equal the snapshot_merge oracle —
    the streamed upsert path loses and duplicates nothing."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        recrawl_merge_stream,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = _stage_dir("stream_merge_")
    in1, in2, tbl = f"{base}/in1", f"{base}/in2", f"{base}/tbl"
    docs.write.mode("overwrite").parquet(in1)
    revised = docs.where("doc_id % 10 = 0").select(
        "doc_id", F.concat("text", F.lit(" [rev2]")).alias("text")
    )
    inserted = docs.where("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    revised.unionByName(inserted).write.mode("overwrite").parquet(in2)
    recrawl_merge_stream(spark, in1, tbl, f"{base}/ck1").awaitTermination()
    recrawl_merge_stream(spark, in2, tbl, f"{base}/ck2").awaitTermination()
    return SnapshotTable(spark, tbl).read().select(
        "doc_id", F.md5("text").alias("fp")
    )


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (the engine-portable KenLM-filter
    analog, operators/lm.py): the model trains on the corpus itself
    (top-30 terms, add-one smoothing), log-probs are Python-computed
    literals, and each doc's mean token log-prob comes from a fixed-
    order fold — the bm25 float discipline. Oracle retrains the same
    model in plain Python and replays the identical fold."""
    from medical_and_charity_document_extraction_system_spark.operators.lm import (
        train_unigram_lm,
        unigram_lm_scores,
    )

    docs = _docs(spark, sf_dir)
    vocab, logp_oov = train_unigram_lm(docs, vocab_size=30)
    return unigram_lm_scores(docs, vocab, logp_oov)


def q_lm_quality_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM quality scoring (operators/lm.py —
    Brants et al. 2007): positions whose (prev, cur) pair is a top-30
    corpus bigram score the raw bigram log-ratio; everything else
    backs off to log(0.4) + the unigram model. Word-ORDER sensitivity
    is the upgrade over q_lm_quality: shuffling a document's words
    preserves its unigram score but drops its bigram score. Same
    float discipline: every log is a Python-computed literal, the
    score is a fixed-order fold, training collects are bounded by
    vocab + bigram table size."""
    from medical_and_charity_document_extraction_system_spark.operators.lm import (
        bigram_lm_scores,
        train_bigram_lm,
    )

    docs = _docs(spark, sf_dir)
    vocab, logp_oov, bigrams, log_backoff = train_bigram_lm(
        docs, vocab_size=30, bigram_size=30
    )
    return bigram_lm_scores(docs, vocab, logp_oov, bigrams, log_backoff)


def q_shingle_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs-above-threshold similarity join
    (operators/sparsesim.shingle_jaccard_pairs, Vernica et al. 2010):
    word-3-gram shingle postings self-joined on the gram, per-pair
    co-occurrence counts via a map-side-combinable hash-agg, Jaccard
    >= 1/2 gated by integer cross-multiplication — no banding miss
    probability to argue (the MinHash path's complement), no
    quadratic pair materialization. The df=1 posting prune is pure
    optimization; the oracle replays the join without it."""
    from medical_and_charity_document_extraction_system_spark.operators.sparsesim import (
        shingle_jaccard_pairs,
    )

    return shingle_jaccard_pairs(_docs(spark, sf_dir), t_num=1, t_den=2)


def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein similarity join (operators/editsim.py) over a
    short key — the 24-char document prefix stands in for the
    title/name/field-value keys this metric is for. Lossless
    candidates from two equi-join paths (PassJoin pigeonhole segments
    for segmentable strings, FastSS deletion neighborhoods for <= d
    chars), banded-threshold exact distance on survivors; no cartesian
    anywhere. The oracle is the plain all-pairs SQL — the candidate
    machinery must be invisible in the result."""
    from medical_and_charity_document_extraction_system_spark.operators.editsim import (
        edit_distance_pairs,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.substring("text", 1, 24).alias("s")
    )
    return edit_distance_pairs(docs, "doc_id", "s", max_dist=4)


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-distinctive terms (operators/keywords.py) — the
    cluster-labeling step of topic pipelines (BERTopic c-TF-IDF),
    scored by LIFT instead of a log form so the rank key is one
    division of exact int64 cross products. One corpus scan, two
    re-aggregations, grouped_topk thresholds (no raw-row window)."""
    from medical_and_charity_document_extraction_system_spark.operators.keywords import (
        distinctive_terms,
    )

    return distinctive_terms(_docs(spark, sf_dir), top_k=5, min_count=3)


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/bitext.py, Artetxe &
    Schwenk 2019): cross-set pairs between label-0 and label-1
    embeddings scored by cos / mean(top-4 neighbor cos) — fold
    cosines, fixed-order neighbor sums, exact-integer 2k multiply.
    Brute-force candidates here (bounded groups); the margin
    arithmetic is candidate-source-agnostic (swap in ANN at scale)."""
    from medical_and_charity_document_extraction_system_spark.operators.bitext import (
        bitext_mine,
    )

    return bitext_mine(_embeddings(spark, sf_dir))


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCA projection (operators/pca.py): top-4
    components fit on the id-ordered bounded sample (driver-side
    numpy, sign-convention-fixed SVD — the semdedup literal
    playbook), every embedding projected via 0.0-seeded exact left
    folds in an Arrow-batched pass. Oracle re-derives the identical
    fit from the target sf_dir."""
    from medical_and_charity_document_extraction_system_spark.operators.pca import (
        pca_fit,
        pca_project,
    )

    emb = _embeddings(spark, sf_dir)
    mean, comps = pca_fit(emb, k=4)
    return pca_project(emb, mean, comps)


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence (operators/keywords.
    term_cooccurrence) — market-basket pairs ranked by lift over
    document frequencies (exact int64 cross products, ONE division).
    Per-doc fan-out bounded by the distinct-term cap; doc-keyed
    self-join + map-side-combinable pair agg; TakeOrdered top-50."""
    from medical_and_charity_document_extraction_system_spark.operators.keywords import (
        term_cooccurrence,
    )

    return term_cooccurrence(_docs(spark, sf_dir))


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-key entity resolution end to end: PassJoin edit-distance
    pairs over the 24-char key -> connected components -> golden-
    record election (operators/editsim + dedup.golden_records). The
    record-linkage composite; its oracle composes the all-pairs
    Levenshtein edges with the shared closure + election tail."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        golden_records,
    )
    from medical_and_charity_document_extraction_system_spark.operators.editsim import (
        edit_distance_pairs,
    )

    docs = _docs(spark, sf_dir)
    keys = docs.select("doc_id", F.substring("text", 1, 24).alias("s"))
    pairs = edit_distance_pairs(keys, "doc_id", "s", max_dist=4)
    return golden_records(docs, pairs)


def q_snapshot_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the snapshot table (plans/snapstore.py):
    commit (doc_id, text), append a batch that ADDS a lang column —
    the manifest's schema evolves (Iceberg keeps schema in metadata,
    not footers), pre-evolution files read NULL for the new column,
    and time travel to the old snapshot keeps the old columns
    (test-pinned). The current read must equal the oracle's direct
    construction."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )

    docs = _docs(spark, sf_dir)
    t = SnapshotTable(spark, f"{_stage_dir('snapevo_')}/tbl")
    t.commit(docs.select("doc_id", "text").repartition(4, "doc_id"), "append")
    evolved = docs.where("doc_id % 5 = 0").select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    t.commit(evolved, "append")
    return t.read().select("doc_id", F.md5("text").alias("fp"), "lang")


def q_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document filter-agreement report — the ablation table a
    curation team reads before choosing a selection recipe: C4 page
    verdict + Gopher keep (both over the extraction text, zero-shuffle
    projections) + the NB classifier vote (trained on the %10<8 split,
    scoring ALL docs), joined per doc with a vote count and the
    majority verdict. Oracle composes the same three fragments
    (_c4_ctes, _GOPHER_BODY/_GOPHER_KEEP, shared NB weight literals)."""
    from medical_and_charity_document_extraction_system_spark.functions.c4 import (
        c4_clean,
    )
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )
    from medical_and_charity_document_extraction_system_spark.operators.classifier import (
        nb_scores,
        train_nb_classifier,
    )

    ext = _extract(spark, sf_dir).select(_doc_id(), "text")
    c4 = c4_clean(ext).select("doc_id", F.col("keep").alias("c4_keep"))
    gq = with_gopher_signals(ext).select("doc_id", "gopher_keep")
    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn(
        "label_pos", F.array_contains(ts.tokens(F.col("text")), "spark")
    )
    weights, bias = train_nb_classifier(
        labeled.where(F.col("doc_id") % 10 < 8), "label_pos"
    )
    nb = nb_scores(docs, weights, bias).select(
        "doc_id", F.col("pred").alias("nb_keep")
    )
    votes = (
        F.col("c4_keep").cast("int")
        + F.col("gopher_keep").cast("int")
        + F.col("nb_keep").cast("int")
    )
    return (
        c4.join(gq, "doc_id")
        .join(nb, "doc_id")
        .select(
            "doc_id",
            "c4_keep",
            "gopher_keep",
            "nb_keep",
            votes.cast("long").alias("votes"),
            (votes >= 2).alias("keep_majority"),
        )
    )


def q_incremental_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance end to end (operators/report.
    apply_report_deltas): commit the corpus to a snapshot table, MERGE
    the standard revision+insert batch, then refresh the per-source
    count/sum report FROM THE CDC CHANGELOG ONLY — the refreshed view
    must equal a from-scratch recompute of the post-merge state (the
    oracle recomputes exactly that). Refresh cost tracks churn, not
    table size: file-granular changelog scan + map-side delta agg +
    one report-sized full-outer join."""
    from medical_and_charity_document_extraction_system_spark.operators.report import (
        apply_report_deltas,
        simple_source_report,
    )
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    t = SnapshotTable(spark, f"{_stage_dir('ivmreport_')}/tbl")
    s1 = t.commit(docs.repartition(4, "doc_id"), "append")
    revised = docs.where("doc_id % 10 = 0").select(
        "doc_id", "source", F.concat("text", F.lit(" [rev2]")).alias("text")
    )
    inserted = docs.where("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.lit("src_new").alias("source"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    s2 = t.merge(revised.unionByName(inserted), "doc_id")
    base = simple_source_report(t.read(s1))
    return apply_report_deltas(base, t.changelog(s1, s2, "doc_id"))


def q_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (operators/dedup.candidate_eval):
    SimHash hamming<=3 candidate pairs judged against the EXACT
    Jaccard>=0.9 posting-join truth — the precision/recall audit every
    approximate dedup needs per corpus. One full-outer pair join +
    one global agg; rates are single integer divisions (bp)."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        candidate_eval,
        simhash_near_dup,
    )
    from medical_and_charity_document_extraction_system_spark.operators.sparsesim import (
        shingle_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    cand = simhash_near_dup(docs)
    truth = shingle_jaccard_pairs(docs, t_num=9, t_den=10)
    return candidate_eval(cand, truth)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search (operators/retrieval.py): BM25 top-20 + cosine
    top-20 fused by reciprocal-rank fusion (1/(60+r) per run — ONE
    exact division per run, ONE addition; absent runs contribute
    exactly 0.0). Runs are bounded TakeOrdered tables, so the rank
    windows cover <= 20 rows; at serving scale everything keys by
    query id."""
    from medical_and_charity_document_extraction_system_spark.operators.retrieval import (
        hybrid_retrieval,
    )

    return hybrid_retrieval(
        _docs(spark, sf_dir), _embeddings(spark, sf_dir), BM25_TERMS
    )


def q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship consolidation (operators/dedup.golden_records):
    MinHash near-dup pairs -> connected components -> one canonical
    row per component (highest n_chars, ties to smallest id) with
    singletons covered — the master-data step after pairwise dedup.
    Arg-max is min(struct(-q, id)) as an AGG, never a raw-row window;
    twin = recursive closure + textbook row_number election."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        golden_records,
        minhash_near_dup,
    )

    docs = _docs(spark, sf_dir)
    return golden_records(docs, minhash_near_dup(docs, threshold=0.9))


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile of the documents table
    (operators/report.table_profile): ONE scan, stack() unpivot to
    (column, rendered value), single hash-agg — row/null/distinct
    counts and lexicographic min/max of the string form per column.
    The ANALYZE/data-quality pass of a table build."""
    from medical_and_charity_document_extraction_system_spark.operators.report import (
        table_profile,
    )

    return table_profile(_docs(spark, sf_dir))


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash per page image (operators/phash.py): integer
    block-mean gradient bits over the decoded payload — the image leg
    of the dedup layer. Oracle: golden-fixture literals (the same
    exact-integer kernel on the driver); pytest carries the planted
    gradient/perturbation oracle (tests/test_phash.py)."""
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
    )
    from medical_and_charity_document_extraction_system_spark.operators.phash import (
        image_dhash,
    )

    docs = _docs(spark, sf_dir).where("doc_id < 200")
    return image_dhash(attach_page_images(docs))


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (operators/phash.dhash_near_dup):
    banded hamming join over the dHashes — pigeonhole 5-band
    candidates, exact bit_count verify, never all-pairs. Oracle IS the
    all-pairs form over the same hash literals."""
    from medical_and_charity_document_extraction_system_spark.operators.multimodal import (
        attach_page_images,
    )
    from medical_and_charity_document_extraction_system_spark.operators.phash import (
        dhash_near_dup,
        image_dhash,
    )

    docs = _docs(spark, sf_dir).where("doc_id < 200")
    return dhash_near_dup(image_dhash(attach_page_images(docs)), max_hamming=4)


def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (operators/keywords.textrank_keywords):
    integer fixed-point PageRank over the corpus-wide union of
    per-document word-adjacency graphs ((doc <tab> word) nodes), top-3
    per doc via grouped_topk. Reuses pagerank_fixed — bit-reproducible
    units, unrolled-CTE twin, no float anywhere."""
    from medical_and_charity_document_extraction_system_spark.operators.keywords import (
        textrank_keywords,
    )

    return textrank_keywords(_docs(spark, sf_dir), top_k=3)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (operators/winnow.py): one selected
    hash per window of w=4 consecutive char-5-gram hashes — any shared
    substring >= 8 chars yields a shared fingerprint. Selection is a
    single integer min over combined (hash<<20 | reversed-pos) values,
    so the rightmost-min tie rule costs nothing and the DuckDB twin is
    the same arithmetic under a rows-frame window min. Pure per-doc
    array HOFs (staged), zero shuffles."""
    from medical_and_charity_document_extraction_system_spark.operators.winnow import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(_docs(spark, sf_dir))


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report (operators/report.py): doc /
    token / char totals, distinct languages, exact-duplicate count
    and basis-point rate, mean tokens x100 — ONE map-side-combinable
    aggregation, every rate an exact integer division."""
    from medical_and_charity_document_extraction_system_spark.operators.report import (
        corpus_report,
    )

    return corpus_report(_docs(spark, sf_dir))


def q_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-taxonomy topic tagging (operators/tagging.py): ONE
    rule table drives per-category hit counts, the tagged total, and
    a declaration-order arg-max CASE chain (ties -> earliest
    category, zero hits -> 'none'). Zero-shuffle staged projection;
    integer counts + a string label, so no float discipline needed."""
    from medical_and_charity_document_extraction_system_spark.operators.tagging import (
        topic_tags,
    )

    return topic_tags(_docs(spark, sf_dir))


def q_lm_quality_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff TRIGRAM LM quality scoring (operators/lm.py —
    one more Brants-2007 backoff level, the closest engine-portable
    analog to the KenLM 5-gram filters real CCNet pipelines run):
    positions whose (t-2, t-1, t) triple is a top-30 corpus trigram
    score the raw trigram log-ratio; everything else backs off to
    log(0.4) + the bigram model, which itself backs off to the
    unigram model. Same float discipline throughout: every log is a
    Python-computed literal, the score is one fixed-order fold, and
    training collects are bounded by the three table sizes."""
    from medical_and_charity_document_extraction_system_spark.operators.lm import (
        train_trigram_lm,
        trigram_lm_scores,
    )

    docs = _docs(spark, sf_dir)
    model = train_trigram_lm(docs, vocab_size=30, bigram_size=30, trigram_size=30)
    return trigram_lm_scores(docs, *model)


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals (operators/repetition.py — Rae et
    al. 2021 A1.1): duplicate-line fraction/char-fraction and the
    top-{2,3,4}-gram char fractions, the repetition half of the
    Gopher filter family (functions/gopher.py carries the word-shape
    half). Exact-integer divisions only; the arg-max n-gram
    tie-breaks deterministically."""
    from medical_and_charity_document_extraction_system_spark.operators.repetition import (
        gopher_repetition,
    )

    return gopher_repetition(_docs(spark, sf_dir))


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-n-gram character coverage (n = 5, 10) — the second
    Gopher repetition family: fraction of token characters inside
    word n-grams that repeat WITHIN the document, overlap-safe (union
    of covered positions). Complements q_gopher_repetition's
    top-n-gram fractions."""
    from medical_and_charity_document_extraction_system_spark.operators.repetition import (
        dup_ngram_coverage,
    )

    return dup_ngram_coverage(_docs(spark, sf_dir))


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED Gopher document filter: word-shape conjunction +
    every repetition cut, with a deterministic first-violation
    reject_reason per doc (operators/repetition.quality_filter). The
    oracle composes the same SQL fragments as the per-signal queries,
    so a mismatch isolates to the keep/reason wiring."""
    from medical_and_charity_document_extraction_system_spark.operators.repetition import (
        quality_filter,
    )

    return quality_filter(_docs(spark, sf_dir))


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line/page cleanup (functions/c4.py — Raffel et al. 2020
    section 2.2) over the extraction text: per-line word-count +
    javascript rules, page-level lorem-ipsum / brace / min-lines
    rules with a fixed precedence reject_reason. require_terminal is
    off (the synthetic corpus has no sentence punctuation; the rule
    is pytest-pinned on planted fixtures). Zero-shuffle staged
    projection — integer/boolean/string arithmetic only."""
    from medical_and_charity_document_extraction_system_spark.functions.c4 import c4_clean

    out = _extract(spark, sf_dir).select(_doc_id(), "text")
    return c4_clean(out)


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split per language
    (operators/ccnet.py — Wenzek et al. 2020): unigram-LM scores
    (bit-identical fixed-order fold, the lm_quality discipline),
    tercile thresholds from a deterministic bounded sample
    (doc_id % 10 == 7), bucket = compare against the broadcast
    per-language thresholds. The oracle re-derives the log-prob
    literals from the same parquet and mirrors every CASE arm."""
    from medical_and_charity_document_extraction_system_spark.operators.ccnet import (
        ccnet_buckets,
    )
    from medical_and_charity_document_extraction_system_spark.operators.lm import (
        train_unigram_lm,
    )

    docs = _docs(spark, sf_dir)
    vocab, logp_oov = train_unigram_lm(docs)
    return ccnet_buckets(docs, vocab, logp_oov)


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing coordinates (operators/packing.py):
    per document, where it lands when its shard's token stream is
    sliced into 256-token training sequences — md5-stable shard +
    order, one integer window running sum, integer div/mod. The
    window partition is a shard, bounded by construction."""
    from medical_and_charity_document_extraction_system_spark.operators.packing import (
        pack_sequences,
    )

    return pack_sequences(_docs(spark, sf_dir), seq_len=256, n_shards=8)


def q_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED modern pretraining selection recipe, end to end:
    extraction text -> C4 line/page cleanup (functions/c4.py; the
    kept_text flows forward) -> Gopher word-shape keep -> exact dedup
    -> exact 13-gram benchmark decontamination (eval stand-in docs
    removed, overlapping docs dropped) -> per-shard sequence-packing
    summary (shard, n_docs, n_tokens, n_seqs; n_seqs = the last
    touched sequence index + 1, exercising the packing window for
    real). One query chaining five operators the catalog also proves
    individually; the oracle composes the SAME SQL fragments, so a
    mismatch isolates to stage wiring, not stage semantics."""
    from medical_and_charity_document_extraction_system_spark.functions.c4 import c4_clean
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )
    from medical_and_charity_document_extraction_system_spark.operators.decontam import (
        benchmark_ngrams,
        decontaminate,
    )
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        exact_dedup,
    )
    from medical_and_charity_document_extraction_system_spark.operators.packing import (
        pack_sequences,
    )

    ext = _extract(spark, sf_dir).select(_doc_id(), "text")
    c4 = c4_clean(ext)
    cleaned = c4.where("keep").select(
        "doc_id", F.col("kept_text").alias("text")
    )
    gk = with_gopher_signals(cleaned).where("gopher_keep").select("doc_id")
    kept = cleaned.join(gk, "doc_id", "left_semi")
    # cache the deduped survivors: the bench/corpus split, the
    # decontamination gram explode, the survivor semi-join, and the
    # packing window all branch from here, and without the cache each
    # branch re-evaluates the interpreted C4/Gopher HOF chain. The
    # repartition matters as much as the cache: AQE coalesces the
    # tiny-BYTES join output to one partition, which would serialize
    # the expensive-per-ROW 13-gram explode downstream onto a single
    # core (measured 8.9s -> ~1s at sf0.1 for the two fixes; every
    # downstream stage is order-free, so the shuffle is gate-safe)
    width = spark.sparkContext.defaultParallelism
    ded = exact_dedup(kept).repartition(width).cache()
    bench = ded.where(F.col("doc_id") % 17 == 3)
    corp = ded.where(F.col("doc_id") % 17 != 3)
    dec = decontaminate(corp, benchmark_ngrams(bench))
    surv = corp.join(
        dec.where(~F.col("contaminated")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    packed = pack_sequences(surv, seq_len=256, n_shards=8)
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("n_tokens") > 0,
                    F.col("seq_first") + F.col("n_seqs"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_seqs"),
    )


def q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (MinHash-Jaccard) benchmark decontamination
    (operators/decontam.fuzzy_decontaminate — the Llama-style
    near-duplicate complement to the exact 13-gram check): corpus
    docs whose shingle Jaccard vs ANY eval doc (doc_id % 17 == 3,
    the same stand-in benchmark as q_decontamination) reaches 0.9.
    The bounded benchmark side broadcasts through both the band join
    and the verification join; the oracle computes the true
    all-pairs answer, which the deterministic 64-hash/16-band LSH
    matches here (escape probability ~4e-8 per qualifying pair over
    hash families, and no data pair sits near the 0.9 boundary at
    any shipped sf dir — see operators/decontam.py)."""
    from medical_and_charity_document_extraction_system_spark.operators.decontam import (
        fuzzy_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 3)
    corpus = docs.where(F.col("doc_id") % 17 != 3)
    return fuzzy_decontaminate(corpus, bench)


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-memory decontamination (operators/decontam.py
    bloom_decontaminate — Bloom 1970): the exact 13-gram overlap next
    to the Bloom-filter pass over the same eval set (doc_id % 17 == 3
    stand-in). The filter's set-bit table is capped at 2^16 rows no
    matter how large the benchmark grows — the broadcast that never
    stops fitting — and the false-positive gap between the two hit
    counts is emitted, not hidden. Oracle recomputes every bit
    position from md5 scratch."""
    from medical_and_charity_document_extraction_system_spark.operators.decontam import (
        benchmark_ngrams,
        bloom_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 3)
    corpus = docs.where(F.col("doc_id") % 17 != 3)
    return bloom_decontaminate(corpus, benchmark_ngrams(bench))


def q_containment_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment decontamination (operators/decontam.py
    containment_decontaminate): flags corpus docs that CONTAIN >=80%
    of any eval doc's shingles — the asymmetric complement to
    fuzzy_decontamination's Jaccard (a short eval item quoted inside
    a long page has near-zero Jaccard but containment ~1). Exact, no
    LSH: every containment is one division of exact integers, so the
    all-pairs oracle matches with no banding argument."""
    from medical_and_charity_document_extraction_system_spark.operators.decontam import (
        containment_decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 3)
    corpus = docs.where(F.col("doc_id") % 17 != 3)
    return containment_decontaminate(corpus, bench)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py — the GPT-3 /
    Pile exact word-13-gram overlap check): docs with
    doc_id % 17 == 3 stand in for the eval set; every other doc
    reports its distinct-13-gram count, how many of those appear in
    the eval set, and the contaminated flag. The benchmark gram table
    is broadcast, so the corpus side's only shuffle is the doc-keyed
    hit count."""
    from medical_and_charity_document_extraction_system_spark.operators.decontam import (
        benchmark_ngrams,
        decontaminate,
    )

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 17 == 3)
    corpus = docs.where(F.col("doc_id") % 17 != 3)
    return decontaminate(corpus, benchmark_ngrams(bench))


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantiles (operators/sketches.py —
    hist_registers/hist_quantiles): per-source p50/p95 document
    length from a 64-bin integer histogram. The exact twin
    (host_length_quantiles) row-numbers inside corpus-sized window
    partitions; this sketch shuffles <= 64 cells per source and
    answers with one-bin-width error — entirely integer arithmetic,
    including the ceil(p% of n) rank threshold ((n*p + 99) div 100),
    so the oracle needs no float literal at all."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        hist_quantiles,
        hist_registers,
    )

    docs = _docs(spark, sf_dir)
    regs = hist_registers(docs, ["source"], "n_chars")
    return hist_quantiles(regs, ["source"])


def q_stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance (streaming/stream.py
    cms_register_stream): the corpus arrives as micro-batches (8
    input files, 2 per trigger -> 4 epochs), each epoch writes its
    register delta, and the merged sketch must equal the ONE-SHOT
    build bit-for-bit — same oracle as cms_heavy_hitters, because
    cell addition commutes across any batch slicing. This is the
    sketch layer's incremental/streaming attestation (the HLL
    equivalent is stream_hll_sketch)."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        cms_estimate,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        cms_register_stream,
        read_cms_registers,
    )

    base = _stage_dir("stream_cms_")
    inp, regs, ck = f"{base}/in", f"{base}/regs", f"{base}/ck"
    docs = _docs(spark, sf_dir)
    docs.repartition(8).write.mode("overwrite").parquet(inp)
    q = cms_register_stream(spark, inp, regs, ck, max_files_per_trigger=2)
    q.awaitTermination()
    merged = read_cms_registers(spark, regs)
    counts = (
        docs.select(F.explode(ts.tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    top = counts.orderBy(F.col("n_exact").desc(), "term").limit(20)
    est = cms_estimate(merged, top.select("term"))
    return top.join(est, "term").select(
        "term",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("n_exact"))
        .cast("long")
        .alias("overcount"),
    )


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction (operators/lm.collocation_lift — Church
    & Hanks association ranking): top-50 adjacent word pairs by lift
    n_xy*N/(n_x*n_y) with min pair count 5. Integer-exact products,
    one final division — the float-free alternative to log-PMI, so
    the oracle needs no injected literals."""
    from medical_and_charity_document_extraction_system_spark.operators.lm import (
        collocation_lift,
    )

    return collocation_lift(_docs(spark, sf_dir))


_BPE_CACHE: dict[tuple[str, str], tuple] = {}


def _bpe_trained(spark: SparkSession, sf_dir: str):
    """BPE training shared by bpe_train and bpe_segment (the
    _EXTRACT_CACHE pattern): both queries need the same 12-round fit,
    and the trained word table is localCheckpointed so reuse is safe
    across the session's lifetime."""
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _BPE_CACHE.get(key)
    if got is None:
        from medical_and_charity_document_extraction_system_spark.operators.bpe import (
            bpe_train,
        )

        got = bpe_train(_docs(spark, sf_dir))
        _BPE_CACHE[key] = got
    return got


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py — Sennrich
    et al. 2016): 12 merge rounds over the word-frequency table (the
    one corpus-wide pass happens before round 1; every round after is
    vocabulary-sized). Emits the learned merge table in priority
    order; the oracle reruns the identical algorithm in Python over
    duckdb word counts, so any divergence in pair counting, the
    (count DESC, left, right) tie-break, or the greedy leftmost apply
    scan fails the gate."""
    from medical_and_charity_document_extraction_system_spark.operators.bpe import (
        merge_table_df,
    )

    merges, _ = _bpe_trained(spark, sf_dir)
    return merge_table_df(spark, merges)


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document subtoken counts under the corpus-trained BPE
    (operators/bpe.segment_counts): the trained word table already
    carries each word's final segmentation, so segmenting the corpus
    is ONE join on word — the merge loop never reruns over documents.
    Oracle re-derives the word->subtoken map via the Python twin."""
    from medical_and_charity_document_extraction_system_spark.operators.bpe import (
        segment_counts,
    )

    docs = _docs(spark, sf_dir)
    _, wt = _bpe_trained(spark, sf_dir)
    return segment_counts(docs, wt)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic (operators/bpe.fertility_by_group):
    subtokens-per-word under the corpus-trained BPE, rolled up per
    source — the signal that flags a source the vocabulary shreds
    (wrong language / mojibake / code). Reuses the session-cached
    12-round training; fertility is ONE exact integer division per
    group. Oracle re-derives the word->subtoken map via the Python
    twin and rolls up the same way."""
    from medical_and_charity_document_extraction_system_spark.operators.bpe import (
        fertility_by_group,
    )

    docs = _docs(spark, sf_dir)
    _, wt = _bpe_trained(spark, sf_dir)
    return fertility_by_group(docs, wt)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised quality classifier (operators/classifier.py — the
    DCLM/fastText model-filter analog as closed-form NB log-odds over
    hashed unigram buckets): train on docs with doc_id % 10 < 8,
    score the held-out 20%, and emit per-doc prediction vs label.
    The stand-in label is "document mentions 'spark'" so the oracle
    can recompute it; any boolean column plugs into the same code
    path. Weights are int64 2^40 fixed-point literals shared with the
    twin (the DSIR discipline) — scores are exact integer sums, no
    float fold anywhere."""
    from medical_and_charity_document_extraction_system_spark.operators.classifier import (
        nb_scores,
        train_nb_classifier,
    )

    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn(
        "label_pos", F.array_contains(ts.tokens(F.col("text")), "spark")
    )
    train = labeled.where(F.col("doc_id") % 10 < 8)
    weights, bias = train_nb_classifier(train, "label_pos")
    ev = labeled.where(F.col("doc_id") % 10 >= 8)
    scored = nb_scores(ev, weights, bias)
    return scored.join(ev.select("doc_id", "label_pos"), "doc_id").select(
        "doc_id",
        "label_pos",
        "n_toks",
        "score_scaled",
        "score",
        "pred",
        (F.col("pred") == F.col("label_pos")).alias("correct"),
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights + deterministic top-k selection
    (operators/dsir.py — Xie et al. 2023): docs from source 'src0'
    stand in for the trusted target domain; every other doc scores
    sum of hashed-unigram+bigram bucket log-ratios. Weights are exact
    int64 fixed-point sums (order-free — the PageRank discipline), the
    exported double is one power-of-two descale, and selection
    compares against a precomputed (weight, id) threshold instead of
    a global sort. The oracle re-derives counts, literals, and
    threshold independently from the same parquet."""
    from medical_and_charity_document_extraction_system_spark.operators.dsir import (
        dsir_log_weights,
        dsir_select,
        dsir_threshold,
        train_dsir,
    )

    docs = _docs(spark, sf_dir)
    target = docs.where(F.col("source") == "src0")
    raw = docs.where(F.col("source") != "src0")
    ratios = train_dsir(target, raw)
    scored = dsir_log_weights(raw, ratios)
    return dsir_select(scored, dsir_threshold(scored, k=100))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup — Abbas et al.
    2023): k-means-cluster the embeddings with the deterministic IVF
    quantizer, then within each cluster mark a row a semantic
    duplicate of the earliest row whose cosine exceeds the threshold.
    Pairing shuffles ids only; pair cosines are strict left-folds over
    pre-normalized vectors so the max — and the keep decision — is
    bit-identical to the DuckDB twin (which re-derives the centroids
    from the same parquet as SQL literals)."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        semantic_dedup,
    )

    return semantic_dedup(_embeddings(spark, sf_dir), dim=64, threshold=0.4)


def q_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) curve values over (host index, time bucket) —
    the clustering key write_zordered sorts by so parquet min/max
    stats prune scans on EITHER dimension (plans/zorder.py). The
    bit-interleave is pure integer magic-mask twiddling, identical in
    both engines; the layout property itself is pinned by pytest
    footer-statistics checks."""
    from medical_and_charity_document_extraction_system_spark.plans.zorder import zvalue

    docs = _docs(spark, sf_dir)
    x = _hidx_of((F.col("doc_id") * 131) % 100)
    y = ((F.col("doc_id") * 137) % 1024).cast("bigint")
    return docs.select(
        "doc_id",
        x.alias("x"),
        y.alias("y"),
        zvalue(x, y).alias("z"),
    )


def q_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-count: exact countDistinct next to the
    deterministic md5-HLL sketch estimate (operators/sketches.py —
    integer registers, exact integer harmonic sum, ONE final float
    division). At crawl scale the sketch shuffles 256 ints per key
    where the exact form shuffles every distinct value; here both run
    so the estimate's quality is visible in the output. Oracle
    recomputes all registers from md5 scratch."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        hll_cardinality,
    )

    docs = _docs(spark, sf_dir)
    exact = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_exact")
    )
    sk = hll_cardinality(docs, ["source"], "doc_id")
    return exact.join(sk, "source").select(
        "source", "n_exact", "n_buckets", "n_empty", "hll_estimate"
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over the corpus token stream
    (operators/sketches.py — Cormode & Muthukrishnan 2005): the top-20
    exact term counts next to their sketch estimates. The sketch is
    built from the two doc_id-parity halves and MERGED (cell addition
    commutes), so this query attests the incremental/mergeable form
    against the oracle's one-shot build — same pattern as
    stream_hll_sketch. All cell math is 64-bit integer; the estimate is
    a min over D exact integers, so estimate >= exact always and
    ``overcount`` is the visible collision bias."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        cms_estimate,
        cms_registers,
        merge_cms_registers,
    )

    docs = _docs(spark, sf_dir)
    # ONE token-stream aggregation keyed (term, parity-half); the
    # vocab-sized result feeds the exact counts, both sketch halves,
    # and the top-k probe — cache it rather than re-exploding the
    # corpus three times.
    by_half = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(ts.tokens(F.col("text"))).alias("term"),
        )
        .groupBy("term", "half")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )
    counts = by_half.groupBy("term").agg(F.sum("cnt").alias("n_exact"))
    regs = merge_cms_registers(
        cms_registers(by_half.where(F.col("half") == 0)),
        cms_registers(by_half.where(F.col("half") == 1)),
    )
    top = counts.orderBy(F.col("n_exact").desc(), "term").limit(20)
    est = cms_estimate(regs, top.select("term"))
    return top.join(est, "term").select(
        "term",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") - F.col("n_exact"))
        .cast("long")
        .alias("overcount"),
    )


def q_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level upsert into the snapshot table (Iceberg MERGE INTO
    shape, plans/snapstore.SnapshotTable.merge): every tenth doc's
    text is revised, one new doc per fiftieth is inserted; only data
    files containing a matched key are rewritten (file-granular
    copy-on-write), and the post-merge read must equal the oracle's
    CASE/UNION construction."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t = SnapshotTable(spark, f"{_stage_dir('snapmerge_')}/tbl")
    t.commit(docs.repartition(4, "doc_id"), "append")
    revised = docs.where("doc_id % 10 = 0").select(
        "doc_id", F.concat("text", F.lit(" [rev2]")).alias("text")
    )
    inserted = docs.where("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    t.merge(revised.unionByName(inserted), "doc_id")
    return t.read().select("doc_id", F.md5("text").alias("fp"))


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dup dedup (streaming/stream.py
    incremental_dedup_stream): the corpus arrives as 4 micro-batch
    epochs (8 files, 2 per trigger); each epoch emits its pairs
    against everything ingested before it and adds its signatures to
    the epoch-partitioned store. The UNION of the per-epoch pair
    outputs must equal the one-shot all-pairs truth — the SAME oracle
    as minhash_near_dup, because the incremental invariant holds for
    any batch slicing. Replay-idempotent with no tag protocol: both
    sinks are epoch-keyed dirs and each batch deduplicates against
    the partition-pruned epoch<N store slice."""
    from medical_and_charity_document_extraction_system_spark.streaming import (
        incremental_dedup_stream,
    )

    base = _stage_dir("stream_dedup_")
    inp, store, pairs, ck = (
        f"{base}/in", f"{base}/store", f"{base}/pairs", f"{base}/ck",
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    docs.repartition(8).write.mode("overwrite").parquet(inp)
    q = incremental_dedup_stream(spark, inp, store, pairs, ck)
    q.awaitTermination()
    return spark.read.parquet(pairs).select("id_a", "id_b", "jaccard")


def q_snapshot_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read between two snapshots (Iceberg changelog scan
    / Delta CDF, plans/snapstore.SnapshotTable.changelog): commit the
    corpus, MERGE the same revision+insert batch q_snapshot_merge
    uses, then ask for the row-level diff — updates must emit BOTH
    pre- and post-image, rows that merely moved files during the
    copy-on-write rewrite must emit NOTHING (content-compared with a
    null-safe struct equality). Only files added/removed between the
    manifests are scanned, so CDC cost tracks churn, not table size.
    Oracle constructs the expected change set directly from the base
    table arithmetic."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t = SnapshotTable(spark, f"{_stage_dir('snapcdc_')}/tbl")
    s1 = t.commit(docs.repartition(4, "doc_id"), "append")
    revised = docs.where("doc_id % 10 = 0").select(
        "doc_id", F.concat("text", F.lit(" [rev2]")).alias("text")
    )
    inserted = docs.where("doc_id % 50 = 0").select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("doc_id").cast("string")).alias("text"),
    )
    s2 = t.merge(revised.unionByName(inserted), "doc_id")
    return t.changelog(s1, s2, "doc_id")


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg-shaped sink exercised end-to-end
    (plans/snapstore.py): even-id docs committed as snapshot 1, odd
    ids appended as snapshot 2, then snapshot 1 read back by id —
    time travel must see ONLY the first commit. Oracle: per-source
    counts over even doc_ids (pure arithmetic)."""
    from medical_and_charity_document_extraction_system_spark.plans.snapstore import (
        SnapshotTable,
    )

    docs = _docs(spark, sf_dir)
    t = SnapshotTable(spark, f"{_stage_dir('snaptbl_')}/tbl")
    t.commit(docs.where("doc_id % 2 = 0"), "append")
    t.commit(docs.where("doc_id % 2 = 1"), "append")
    return (
        t.read(1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filtering (Rae et al. 2021) over the
    reconstructed extraction text: repetition (duplicate lines by
    count AND by character mass, top-token share), word-shape and
    formatting rules, plus the keep-conjunction — the standard
    LLM-corpus cleanup pass, as a zero-shuffle projection
    (functions/gopher.py, new r4). Oracle recomputes every signal
    from scratch in DuckDB over the same construction CTE."""
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )

    out = _extract(spark, sf_dir).select(_doc_id(), "text")
    return with_gopher_signals(out)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style exact paragraph dedup (Wenzek et al. 2020) over the
    reconstructed extraction text: a non-blank line survives only at
    its corpus-global first (doc_id, pos) occurrence — catches the
    'Patient:/Donor:' template lines and page headers shared across
    documents. Oracle replays the md5-keyed first-occurrence window in
    DuckDB (oracles.paragraph_dedup_sql)."""
    from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
        paragraph_dedup,
    )

    out = _extract(spark, sf_dir).select(_doc_id(), "text")
    return paragraph_dedup(out)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (k-token window) dedup a la Lee et al. 2022
    over documents with a planted shared-license suffix on every third
    doc: window hashes seen in >= 2 distinct docs mark their token
    positions duplicated everywhere except the global-min occurrence,
    so the license survives only in doc 0. Oracle re-derives windows,
    frequencies, coverage, and reassembly from scratch in DuckDB."""
    from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
        span_dedup,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" " + oracles.SPAN_DEDUP_LICENSE)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return span_dedup(docs, k=12)


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline, end to end: extraction
    text -> Gopher quality keep-filter -> exact document dedup ->
    first-occurrence paragraph dedup -> deterministic shard manifest.
    One query chaining four operators the catalog also proves
    individually; the oracle composes the SAME SQL fragments, so a
    mismatch isolates to stage wiring, not stage semantics."""
    from medical_and_charity_document_extraction_system_spark.functions.gopher import (
        with_gopher_signals,
    )
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        exact_dedup,
    )
    from medical_and_charity_document_extraction_system_spark.operators.mixing import (
        shard_manifest,
    )
    from medical_and_charity_document_extraction_system_spark.operators.textdedup import (
        paragraph_dedup,
    )

    ext = _extract(spark, sf_dir).select(_doc_id(), "text")
    keep_ids = with_gopher_signals(ext).where("gopher_keep").select("doc_id")
    kept = ext.join(keep_ids, "doc_id", "left_semi")
    ded = exact_dedup(kept)
    clean = paragraph_dedup(ded)
    return shard_manifest(
        clean.select("doc_id", F.col("clean_text").alias("text")), n_shards=8
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full inverted-index build: one row per (term, doc) posting
    with tf, ordered 0-based positions, and the term's document
    frequency (operators/index.inverted_index, min_df=2). The
    retrieval artifact BM25 consumes — one explode, one (term, doc)
    hash-agg, one term-window count. Oracle replays the identical
    construction in DuckDB."""
    from medical_and_charity_document_extraction_system_spark.operators.index import (
        inverted_index,
    )

    return inverted_index(_docs(spark, sf_dir), min_df=2)


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha = 1/2) source mixing: per-source quotas
    proportional to sqrt(source_count), filled by each source's
    lowest-md5 docs (operators/mixing.temperature_mix). sqrt is the
    one IEEE correctly-rounded float op, so floor(sqrt(c)*1000) is
    engine-exact; quotas are integer cross-multiplication. Oracle
    recomputes weights, quotas, and ranks from scratch."""
    from medical_and_charity_document_extraction_system_spark.operators.mixing import (
        temperature_mix,
    )

    return temperature_mix(_docs(spark, sf_dir), target_total=200)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard manifest: md5-bucket shard
    assignment plus per-shard doc count, token mass, an order-
    independent integer checksum, and min/max member hashes
    (operators/mixing.shard_manifest) — the integrity record a
    downstream trainer verifies before reading shard files."""
    from medical_and_charity_document_extraction_system_spark.operators.mixing import (
        shard_manifest,
    )

    return shard_manifest(_docs(spark, sf_dir), n_shards=8)


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full shard-sink round trip: documents exported as deterministic
    jsonl.gz shards from the EXECUTORS (sources/shards.py), read back
    through the gzip-text source with the shard id parsed from the
    file NAME, and re-aggregated into the manifest. Matching the
    shard_manifest oracle proves the writer placed every doc in its
    md5-assigned shard file and the json round trip was lossless."""
    from medical_and_charity_document_extraction_system_spark.sources.shards import (
        read_training_shards,
        write_training_shards,
    )

    base = _stage_dir("shards_")
    write_training_shards(
        _docs(spark, sf_dir).select("doc_id", "text"), f"{base}/shards", 8
    )
    back = read_training_shards(spark, f"{base}/shards")
    # manifest recomputed from the round-tripped rows, grouped by the
    # FILE-derived shard id: placement + content must both be right
    from medical_and_charity_document_extraction_system_spark.functions.textstats import (
        token_count,
    )
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        _hash_mod,
    )

    return (
        back.select(
            "shard",
            _hash_mod(F.col("doc_id"), 10000).alias("bucket"),
            F.md5(F.col("doc_id").cast("string")).alias("oh"),
            token_count(F.col("text")).alias("ntok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.sum("bucket").alias("checksum"),
            F.min("oh").alias("first_hash"),
            F.max("oh").alias("last_hash"),
        )
    )


def q_site_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-level rollup by registrable domain (eTLD+1): hosts with
    multi-label public suffixes (co.uk, com.au, github.io, ...)
    collapse to their registrable domain via the ONE-rule-table
    longest-match chain (functions/domains.py), compiled identically
    for Spark, DuckDB, and Python. The grouping key for site dedup /
    per-site crawl budgets."""
    from medical_and_charity_document_extraction_system_spark.functions.domains import (
        registrable_domain,
    )

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    host = (
        F.when(d % 6 == 0, F.concat(F.lit("www"), (d % 3).cast("string"),
                                    F.lit(".site"), (d % 7).cast("string"),
                                    F.lit(".co.uk")))
        .when(d % 6 == 1, F.concat(F.lit("blog.ex"), (d % 7).cast("string"),
                                   F.lit(".com.au")))
        .when(d % 6 == 2, F.concat(F.lit("user"), (d % 7).cast("string"),
                                   F.lit(".github.io")))
        .when(d % 6 == 3, F.concat(F.lit("a.b.ex"), (d % 7).cast("string"),
                                   F.lit(".example.com")))
        .when(d % 6 == 4, F.concat(F.lit("ex"), (d % 7).cast("string"),
                                   F.lit(".org")))
        .otherwise(F.lit("localhost"))
    )
    h = docs.select("doc_id", host.alias("host"))
    return (
        h.groupBy(registrable_domain(F.col("host")).alias("site"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl loop: candidate urls (REAL extracted
    outlinks + a pending-discovery feed + the crawled set) ->
    anti-join against already-crawled urls -> robots longest-match
    gate (operators/crawl.robots_filter) -> host-PageRank priority
    (operators/webgraph.pagerank_fixed). One query tying the whole
    crawl layer together; the oracle composes the same fragments the
    standalone oracles use."""
    from medical_and_charity_document_extraction_system_spark.functions.robots import (
        synthesize_robots,
    )
    from medical_and_charity_document_extraction_system_spark.operators.crawl import (
        robots_filter,
        robots_rules,
    )
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        extract_outlinks,
        pagerank_fixed,
    )

    pages = synthesize_pages(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    hidx = _hidx_of((F.col("doc_id") * 131) % 100)
    pending = docs.select(
        F.concat(
            F.lit("https://host"),
            hidx.cast("string"),
            F.lit(".example.com/doc/new"),
            (F.col("doc_id") % 10).cast("string"),
        ).alias("url")
    )
    cand = (
        extract_outlinks(pages)
        .select(F.col("outlink").alias("url"))
        .unionByName(pages.select("url"))
        .unionByName(pending)
        .distinct()
    )
    new = cand.join(pages.select("url"), "url", "left_anti")
    robots = spark.createDataFrame(
        [(f"host{i}.example.com", synthesize_robots(i)) for i in range(20)],
        "host string, robots_txt string",
    )
    ok = robots_filter(new, robots_rules(robots)).where("allowed")
    ranks = pagerank_fixed(_host_edges(docs), iterations=4).withColumn(
        "host", F.concat(F.col("node"), F.lit(".example.com"))
    )
    urls = ok.select(
        "url", F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    )
    return urls.join(ranks, "host").select("url", "host", "rank_units")


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding cleanup (ftfy-style): every seventh document's text —
    with a planted accented suffix — is double-encoded into
    UTF-8-read-as-Latin-1 artifacts, then repaired by the ONE-rule-
    table replace chain (functions/mojibake.py). had_mojibake flags
    docs the repair actually changed. Oracle compiles the SAME derived
    rule table to nested DuckDB replace() chains."""
    from medical_and_charity_document_extraction_system_spark.functions.mojibake import (
        MOJIBAKE_PLANT,
        corrupt_mojibake,
        repair_mojibake,
    )

    docs = _docs(spark, sf_dir)
    planted = F.concat(F.col("text"), F.lit(MOJIBAKE_PLANT))
    corrupted = F.when(
        F.col("doc_id") % 7 == 0, corrupt_mojibake(planted)
    ).otherwise(planted)
    c = docs.select("doc_id", corrupted.alias("ct"))
    repaired = repair_mojibake(F.col("ct"))
    return c.select(
        "doc_id",
        (F.col("ct") != repaired).alias("had_mojibake"),
        repaired.alias("clean_text"),
    )


def q_outlink_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction over the raw html bytes: one JVM
    regexp_extract_all pulls every href anchor, resolved absolute
    against the page origin (operators/webgraph.extract_outlinks).
    Oracle: the html template plants exactly nine root-relative
    anchors per html page, so the expected rows are constructed
    (origin x nine paths), never re-parsed."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        extract_outlinks,
    )

    pages = synthesize_pages(spark, sf_dir)
    out = extract_outlinks(pages)
    return out.select(_doc_id(), "outlink")


def _hidx_of(mod):
    """The tiered Zipf host mapping (sources/pages.host_index) as a
    Column over a precomputed 0..99 modulus."""
    return (
        F.when(mod < 40, F.lit(0))
        .when(mod < 60, F.lit(1))
        .when(mod < 70, F.lit(2))
        .otherwise(F.lit(3) + mod % 17)
    ).cast("long")


def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target — the relevance signal
    search indexes attach to pages that never state their own name
    (operators/webgraph.extract_anchors + one hash-agg). Oracle
    constructs the (path, label) x host-count table from the known
    template anchors."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        extract_anchors,
    )

    pages = synthesize_pages(spark, sf_dir)
    return (
        extract_anchors(pages)
        .groupBy("outlink", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _host_edges(docs: DataFrame) -> DataFrame:
    """The deterministic host edge list (each doc links its Zipf host
    to two derived hosts) — shared by q_host_pagerank and
    q_crawl_frontier, twinned by oracles.host_pagerank_sql."""
    host = lambda mod: F.concat(F.lit("host"), _hidx_of(mod).cast("string"))  # noqa: E731
    m = docs.select(
        host((F.col("doc_id") * 131) % 100).alias("src"),
        host((F.col("doc_id") * 577) % 100).alias("dst1"),
        host((F.col("doc_id") * 271) % 100).alias("dst2"),
    )
    return m.select("src", F.col("dst1").alias("dst")).unionAll(
        m.select("src", F.col("dst2").alias("dst"))
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank for crawl prioritization: a deterministic
    host edge list (each doc links its Zipf host to two derived
    hosts), ranked by 4 rounds of INTEGER fixed-point PageRank
    (operators/webgraph.pagerank_fixed) — bigint units, DIV floor
    division, no floats, so any aggregation order lands on identical
    units. Oracle unrolls the same rounds as chained CTEs."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        pagerank_fixed,
    )

    docs = _docs(spark, sf_dir)
    return pagerank_fixed(_host_edges(docs), iterations=4)


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the same deterministic host graph
    as host_pagerank (operators/webgraph.hits_fixed — Kleinberg 1999,
    L1-normalized so every round is bigint add / multiply / DIV; the
    per-round totals are bounded 1-row collects). Oracle unrolls the
    identical rounds as CTE pairs over the SHARED host-graph fragment,
    so the two link-analysis twins cannot drift apart."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        hits_fixed,
    )

    docs = _docs(spark, sf_dir)
    return hits_fixed(_host_edges(docs), iterations=4)


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the SAME deterministic host graph as
    host_pagerank / host_hits: 4 rounds of deterministic synchronous
    label propagation (operators/webgraph.label_propagation — argmax
    neighbor label, ties to the smallest label, so the update is a
    pure function of the graph). Per round: one neighbor equi-join +
    one (node, label) hash-agg + one agg-side argmax (NEVER a
    row_number window over all nodes). Oracle unrolls the identical
    rounds over the shared host-graph fragment."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        label_propagation,
    )

    docs = _docs(spark, sf_dir)
    return label_propagation(_host_edges(docs), iterations=4)


def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts over the shared host graph
    (operators/webgraph.triangle_counts): degree-oriented wedge join
    (Suri & Vassilvitskii 2011) so a hub's wedge fan-out is bounded
    by O(sqrt(m)) out-degree — the plan that survives power-law
    graphs. Pure integer counting; the oracle replays the identical
    orientation and joins over the shared host-graph fragment."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        triangle_counts,
    )

    docs = _docs(spark, sf_dir)
    return triangle_counts(_host_edges(docs))


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate over the crawl frontier (RFC 9309):
    per-host robots bodies (deterministic shapes — exact-agent group
    with an Allow carve-out, wildcard+anchor ``/doc/*7$``, empty
    Disallow) are parsed in a distributed Arrow stage
    (operators/crawl.robots_rules), then every url resolves its
    longest-match rule via a host equi-join + per-url window
    (crawl.robots_filter). Oracle: the twin embeds the SAME parsed
    rules as VALUES literals (the LSH-projection trick) and replays
    the join + window in DuckDB with ``ESCAPE '\\'``."""
    from medical_and_charity_document_extraction_system_spark.functions.robots import (
        synthesize_robots,
    )
    from medical_and_charity_document_extraction_system_spark.operators.crawl import (
        robots_filter,
        robots_rules,
    )

    docs = _docs(spark, sf_dir)
    hidx = _hidx_of((F.col("doc_id") * 131) % 100)
    url = F.concat(
        F.lit("https://host"),
        hidx.cast("string"),
        F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )
    urls = docs.select("doc_id", url.alias("url"))
    robots = spark.createDataFrame(
        [(f"host{i}.example.com", synthesize_robots(i)) for i in range(20)],
        "host string, robots_txt string",
    )
    out = robots_filter(urls, robots_rules(robots))
    return out.select("doc_id", "url", "allowed", "rule")


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus cleanup: lines appearing in >= 10 distinct
    documents ("--- Page N ---" headers here; nav/footer boilerplate
    in real crawls) are detected with one hash-agg and stripped from
    every document via a broadcast anti-join, text reassembled in
    line order (operators/chunking.frequent_lines /
    remove_frequent_lines). Oracle: the same two passes over the
    reconstructed extraction text."""
    from medical_and_charity_document_extraction_system_spark.operators.chunking import (
        frequent_lines,
        remove_frequent_lines,
    )

    out = _extract(spark, sf_dir).select(_doc_id(), "text")
    bp = frequent_lines(out, min_docs=10)
    return remove_frequent_lines(out, bp)


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl change detection via set difference: crawl2 rewrites
    every 10th document's text; exceptAll on (doc_id, fingerprint)
    returns exactly the changed rows — the daily 'what must be
    re-extracted' diff. Oracle: the changed population is doc_id
    arithmetic."""
    docs = _docs(spark, sf_dir)
    crawl1 = docs.select("doc_id", ts.fingerprint_md5(F.col("text")).alias("fp"))
    text2 = F.when(
        F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
    ).otherwise(F.col("text"))
    crawl2 = docs.select("doc_id", ts.fingerprint_md5(text2).alias("fp"))
    return crawl2.exceptAll(crawl1).select("doc_id", "fp")


def q_host_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source discrete p50/p95 of document length (value at row
    ceil(p*n) of the sorted group — integer-exact, engine-portable,
    unlike interpolated percentiles whose FP arithmetic differs).
    Window rank + conditional min."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.min(F.when(F.col("rk") >= F.ceil(F.col("n") * 0.5), F.col("n_chars"))).alias("p50_chars"),
        F.min(F.when(F.col("rk") >= F.ceil(F.col("n") * 0.95), F.col("n_chars"))).alias("p95_chars"),
    )


def q_sample_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% sample — membership a pure function of the key
    (md5-prefix bucket), identical on any engine/run."""
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        deterministic_sample,
    )

    return deterministic_sample(_docs(spark, sf_dir), "doc_id", 0.1).select("doc_id")


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (0.8/0.1/0.1)."""
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        assign_split,
    )

    out = assign_split(_docs(spark, sf_dir), "doc_id")
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key top-N via window rank (largest documents per source)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
    )


def q_route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routing/predicate distribution (P1 scanned-vs-text + content
    routing): documents per processing method with totals."""
    out = _extract(spark, sf_dir)
    return out.groupBy("processing_method").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("page_count").cast("long").alias("n_pages"),
        F.sum("total_characters").alias("sum_chars"),
    )


def q_ocr_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded OCR word records (F3 word expansion; reference
    easyocr_engine.py:73-95) — doc -> pages -> words double explode."""
    out = _extract(spark, sf_dir).where("processing_method = 'ocr_pipeline'")
    p = out.select(_doc_id(), F.explode("pages").alias("p"))
    w = p.select(
        "doc_id",
        F.col("p.page_number").alias("page_number"),
        F.col("p.confidence").alias("confidence"),
        F.explode("p.words").alias("w"),
    )
    return w.select(
        "doc_id",
        "page_number",
        F.col("w.word_num").alias("word_num"),
        F.col("w.text").alias("word"),
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "confidence",
    )


def q_error_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured error classification over the extraction output
    (functions/errors.py — the data-plane form of the reference's
    exception hierarchy, exceptions.py): every document lands in an
    (error_family, error_code) bucket via a pure JVM CASE chain.
    Oracle: the same decision table over the construction-arithmetic
    error population."""
    from medical_and_charity_document_extraction_system_spark.functions.errors import (
        classify_error_cols,
    )

    out = _extract(spark, sf_dir)
    fam, code = classify_error_cols(F.col("error"))
    return (
        out.select(fam.alias("error_family"), code.alias("error_code"))
        .groupBy("error_family", "error_code")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host extraction-quality rollup over the pipeline output —
    the operator dashboard table (plans/metrics.host_quality_metrics,
    reference health probe analog health_routes.py:22-62)."""
    from medical_and_charity_document_extraction_system_spark.plans.metrics import (
        host_quality_metrics,
    )

    out = _extract(spark, sf_dir)
    return host_quality_metrics(out, "gate").drop("run_id")


def q_pdf_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: PDF doc -> one row per page (mapInPandas flatMap;
    reference per-page loops pdf_service.py:130-143, :185-195)."""
    from medical_and_charity_document_extraction_system_spark.operators.pdf import explode_pdf_pages

    pages = synthesize_pages(spark, sf_dir)
    return explode_pdf_pages(pages).select(
        _doc_id(), "page_number", "page_text", "char_count"
    )


def q_pdf_pages_type0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-%PDF round trip through the Type0 (subsetted-CID,
    Identity-H + /ToUnicode CMap) font generation — new in r4, the
    modern-writer shape the r3 reader couldn't decode (reference reads
    it via fitz, pdf_service.py:174-229). Every document becomes a
    one-page Type0 PDF (classic/xref-stream assembly alternating by id
    parity) and is exploded back to page rows; the oracle pins the
    extracted page_text BYTE-IDENTICAL to the source text — hex-CID
    shows decoded through the embedded CMap, not pass-through bytes."""
    from medical_and_charity_document_extraction_system_spark.operators.pdf import (
        docs_to_pdfs,
        explode_pdf_pages,
    )

    docs = _docs(spark, sf_dir).where("doc_id < 300")
    pdfs = docs_to_pdfs(docs, font="type0")
    pages = explode_pdf_pages(
        pdfs.select(
            F.col("doc_id").cast("string").alias("url"),
            F.col("pdf").alias("html"),
        )
    )
    return pages.select(
        F.col("url").cast("long").alias("doc_id"),
        "page_number",
        "page_text",
        "char_count",
    )


def q_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-3 documents by (n_chars DESC, doc_id ASC) —
    the curation primitive "keep each host's k best docs", computed
    WITHOUT a per-group window over raw rows (operators/topk.
    grouped_topk): per-(group, score) class counts, a window over the
    aggregated class table only (<= distinct scores per group), and a
    boundary-ties window bounded by the tied rows. Oracle is the
    plain row_number form — same answer, different (non-scalable)
    plan."""
    from medical_and_charity_document_extraction_system_spark.operators.topk import (
        grouped_topk,
    )

    docs = _docs(spark, sf_dir).select("source", "doc_id", "n_chars")
    return grouped_topk(docs, "source", "n_chars", "doc_id", k=3)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quota sampling: exactly 5 docs per source, the
    bottom-5 by md5-hash rank of the id (operators/sampling.
    stratified_sample) — same rows on any run/engine/partitioning,
    and incrementally stable (bottom-k sketches merge: new data can
    displace members but never reshuffle survivors). Selection runs
    through grouped_topk's class-count threshold plan, not a raw-row
    window. Oracle is the plain hash-ranked row_number."""
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _docs(spark, sf_dir).select("source", "doc_id", "lang")
    return stratified_sample(docs, "source", "doc_id", k=5)


def q_docs_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets report: doc count + char volume for every
    (source, lang) subset via native df.cube() — ONE Expand + one
    map-side-combinable hash agg, never 2^d separate scans
    (operators/report.dimensional_rollup). grouping_id()
    disambiguates rolled-up NULLs and matches DuckDB's GROUPING
    bitmask bit-for-bit."""
    from medical_and_charity_document_extraction_system_spark.operators.report import (
        dimensional_rollup,
    )

    docs = _docs(spark, sf_dir)
    return dimensional_rollup(
        docs, ["source", "lang"], sum_col="n_chars", sum_alias="sum_chars"
    )


def q_host_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=4) of the shared host graph
    (operators/webgraph.kcore_fixed — Seidman 1983 peeling, BSP form):
    4 synchronous peel rounds, each one degree agg + two survivor
    semi-joins, localCheckpoint lineage cuts, plus a one-count
    convergence assert so the fixed unroll provably reached the
    fixpoint. Pure integer set operations; the oracle unrolls
    identical rounds over the shared host-graph fragment (survivor
    CTEs AS MATERIALIZED — the host_hits exponential-reeval lesson)."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        kcore_fixed,
    )

    docs = _docs(spark, sf_dir)
    return kcore_fixed(_host_edges(docs), k=4, rounds=4)


def q_stream_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog maintenance (streaming/stream.py
    hll_register_stream): the corpus arrives as micro-batches (8
    input files, 2 per trigger -> 4 epochs), each epoch writes its
    per-source registers, and the groupBy-MAX merge must equal the
    one-shot sketch bit-for-bit — same oracle as hll_cardinality,
    because register max commutes across any batch slicing AND is
    idempotent (a double-applied epoch cannot skew it, unlike the CMS
    stream's additive cells)."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        hll_estimate_from_registers,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        hll_register_stream,
        read_hll_registers,
    )

    base = _stage_dir("stream_hll_")
    inp, regs, ck = f"{base}/in", f"{base}/regs", f"{base}/ck"
    docs = _docs(spark, sf_dir)
    docs.repartition(8).write.mode("overwrite").parquet(inp)
    q = hll_register_stream(spark, inp, regs, ck, max_files_per_trigger=2)
    q.awaitTermination()
    merged = read_hll_registers(spark, regs)
    sk = hll_estimate_from_registers(merged, ["source"])
    exact = docs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_exact")
    )
    return exact.join(sk, "source").select(
        "source", "n_exact", "n_buckets", "n_empty", "hll_estimate"
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source coverage of the corpus-wide top-16 vocabulary
    (operators/keywords.vocab_coverage): one token explode + one
    (source, term) shuffle; the vocab is TakeOrdered with the
    (count DESC, term) tie rule both engines share; coverage is one
    integer basis-point division."""
    from medical_and_charity_document_extraction_system_spark.operators.keywords import (
        vocab_coverage,
    )

    return vocab_coverage(_docs(spark, sf_dir), vocab_size=16)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPSWOR bottom-k sample, weights ∝ document
    length (operators/sampling.weighted_sample): replica-min md5
    hashing — each row spawns `weight` exchangeable keys, so
    selection probability is exactly weight-proportional without any
    RNG. TakeOrdered top-k, never a global sort; oracle recomputes
    the identical keys."""
    from medical_and_charity_document_extraction_system_spark.operators.sampling import (
        weighted_sample,
    )

    return weighted_sample(
        _docs(spark, sf_dir), F.expr("n_chars div 200"), k=50
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus k-anonymity audit (operators/privacy.k_anonymity_report):
    per-language exposure of the (lang, source, length-bucket)
    quasi-identifier — cells below k, documents inside them, and the
    at-risk rate as ONE integer basis-point division. Two map-side
    combinable aggs, no windows, no floats."""
    from medical_and_charity_document_extraction_system_spark.operators.privacy import (
        k_anonymity_report,
    )

    return k_anonymity_report(_docs(spark, sf_dir), k=5, len_bucket=100)


def q_frontier_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl sharding (operators/crawl.
    frontier_shards): hosts hash into fetcher shards (md5 first-8-hex
    bucket, engine-portable), each shard reporting url load and the
    makespan lower bound its busiest host forces under the per-host
    delay. The frontier here is each doc's Zipf host from the shared
    host-graph construction."""
    from medical_and_charity_document_extraction_system_spark.operators.crawl import (
        frontier_shards,
    )

    frontier = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("host"), _hidx_of((F.col("doc_id") * 131) % 100).cast("string")
        ).alias("host")
    )
    return frontier_shards(frontier, n_shards=8, delay_us=500_000)


def q_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (operators/dedup.
    component_size_stats over connected_components of the MinHash
    near-dup pairs): per cluster size, how many clusters and how many
    documents — the dedup-savings estimate. Oracle: the shared
    recursive closure fragment plus the same two aggregations."""
    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        component_size_stats,
        connected_components,
        minhash_near_dup,
    )

    pairs = minhash_near_dup(_docs(spark, sf_dir), threshold=0.9)
    return component_size_stats(connected_components(pairs))


def q_host_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-truss of the shared host graph (operators/webgraph.
    ktruss_fixed — Cohen 2008): edges must close >= 3 triangles,
    peeled by 3 synchronous support rounds. Support counting reuses
    the degree-oriented triangle enumeration (hub-safe O(sqrt(m))
    wedge fan-out); the oracle replays the peel with the
    orientation-free common-neighbor join — equal because support is
    exactly the common-neighbor count. Convergence asserted with one
    extra count."""
    from medical_and_charity_document_extraction_system_spark.operators.webgraph import (
        ktruss_fixed,
    )

    return ktruss_fixed(_host_edges(_docs(spark, sf_dir)), k=5, rounds=3)


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the LSH ANN index against exact brute force
    (operators/similarity.lsh_recall_eval) — the ANN layer's
    dedup_eval analog: per held-out query (every 50th vector),
    candidate count, exact-vs-LSH hit count, and recall in integer
    basis points. Candidates come from a (table, key) equi-join
    (never a per-query predicate); both top-k legs rank identical
    fold-cosine doubles with grouped_topk's row_number-equivalent
    rule, so the twin's plain windows land on identical members."""
    from medical_and_charity_document_extraction_system_spark.operators.similarity import (
        lsh_recall_eval,
    )

    return lsh_recall_eval(_embeddings(spark, sf_dir))


def q_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets for the term 'spark'
    (operators/concordance.py): token positions via posexplode_outer
    + post-filter — NEVER plain explode over the computed token
    array, which lets InferFiltersFromGenerate clone the tokenizer
    into a pushed-down Filter (the winnow 118s->3.3s trap; plan test
    pins Filter nodes HOF-free). One scan, output bounded by term
    occurrences."""
    from medical_and_charity_document_extraction_system_spark.operators.concordance import (
        concordance,
    )

    return concordance(_docs(spark, sf_dir), term="spark")


def q_mirror_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirrored-content triage: a deterministic mirror crawl (every
    7th document recrawled under a mirror host — the crawl_diff
    construction style) summarized per text md5 with copy/host counts
    and the smallest host/id among copies (independent minima)
    (operators/concordance.mirror_report). Two map-side-combinable
    hash-aggs, no joins, no windows."""
    from medical_and_charity_document_extraction_system_spark.operators.concordance import (
        mirror_report,
    )

    docs = _docs(spark, sf_dir)
    host = F.concat(
        F.lit("host"), _hidx_of((F.col("doc_id") * 131) % 100).cast("string")
    )
    mhost = F.concat(
        F.lit("mirror"), _hidx_of((F.col("doc_id") * 577) % 100).cast("string")
    )
    crawl = docs.select(
        F.col("doc_id").alias("id"), "text", host.alias("host")
    ).unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("id"),
            "text",
            mhost.alias("host"),
        )
    )
    return mirror_report(crawl, id_col="id")


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (operators/index.phrase_match): docs
    containing the exact token sequence 'batch batch', counted once
    per starting position — so overlapping occurrences of the
    self-repeating phrase all count, the hard case pinned in both
    engines. One posexplode of the shared tokenizer, per-slot term
    filters (the pruned posting lists a search engine reads), then
    equi-joins on (doc, aligned start) — distributed keys, no window,
    result bounded by the rarest term."""
    from medical_and_charity_document_extraction_system_spark.operators.index import (
        phrase_match,
    )

    return phrase_match(_docs(spark, sf_dir), phrase=("batch", "batch"))


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report (operators/mixing.
    assign_split): bucket = md5(id) mod 100 — a document's split
    NEVER changes as the corpus grows (hash of identity alone), the
    property a random split lacks. Pure projection + one 3-group
    agg; the share is one integer division."""
    from medical_and_charity_document_extraction_system_spark.operators.mixing import (
        split_report,
    )

    return split_report(_docs(spark, sf_dir))


def q_source_topk_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-rank top-k per group (operators/topk.grouped_topk_dense):
    every doc whose token count is among its source's 3 highest
    DISTINCT counts — ALL ties kept, the complement of source_topk's
    row_number semantics. Membership is a pure function of the score
    class, so the plan is one hash-agg to the distinct-score table, a
    window over THAT, and an equi-join back — never a raw-row
    window."""
    from medical_and_charity_document_extraction_system_spark.operators.topk import (
        grouped_topk_dense,
    )
    from medical_and_charity_document_extraction_system_spark.functions.textstats import (
        token_count,
    )

    t = _docs(spark, sf_dir).select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    return grouped_topk_dense(t, "source", "n_tokens", "doc_id", k=3)


# ---------------------------------------------------------------- driver
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_extraction_doc_records(spark, SF_DEFAULT)


class Entry(NamedTuple):
    """One catalog row. ``query(spark, sf_dir)`` is the Spark plan and
    ``oracle`` builds its DuckDB twin. With ``per_sf`` the builder takes
    ``sf_dir``: its SQL embeds literals derived from that dir's parquet
    (vocab log-probs, centroids, idf, ...), so it must re-derive them
    from the tables the query reads or it only matches at sf0.01.
    ``bench`` puts the row in bench.py's timed catalog list."""

    name: str
    query: Callable[[SparkSession, str], DataFrame]
    oracle: Callable[..., str]
    per_sf: bool = False
    bench: bool = False

    def oracle_sql(self, sf_dir: str) -> str:
        return self.oracle(sf_dir) if self.per_sf else self.oracle()


# The 140 catalog queries in gate order. The correctness gate samples
# the FIRST 50 rows, so the 54 with no attestation row
# (CORRECTNESS_r0*.json) lead, then the rest by the round of their
# latest row, oldest first (tests/test_entry_contract.py::
# test_gate_window_is_never_attested pins the window). The full-catalog
# replica (scripts/check_oracles.py) checks every row regardless.
CATALOG: tuple[Entry, ...] = (
    # --- never attested ---
    Entry("host_ktruss", q_host_ktruss, oracles.host_ktruss_sql, bench=True),
    # streaming register-max merge must equal the one-shot sketch
    Entry("stream_hll_sketch", q_stream_hll_sketch, oracles.hll_host_cardinality_sql, bench=True),
    Entry("host_kcore", q_host_kcore, oracles.host_kcore_sql, bench=True),
    Entry("docs_cube", q_docs_cube, oracles.docs_cube_sql, bench=True),
    Entry("edit_distance_pairs", q_edit_distance_pairs,
          oracles.edit_distance_pairs_sql, bench=True),
    Entry("distinctive_terms", q_distinctive_terms, oracles.distinctive_terms_sql, bench=True),
    Entry("textrank_keywords", q_textrank_keywords, oracles.textrank_keywords_sql, bench=True),
    Entry("image_dhash", q_image_dhash, oracles.image_dhash_sql),
    Entry("bitext_mine", q_bitext_mine, oracles.bitext_mine_sql, bench=True),
    Entry("pca_project", q_pca_project, oracles.pca_project_sql, per_sf=True, bench=True),
    Entry("term_cooccurrence", q_term_cooccurrence, oracles.term_cooccurrence_sql, bench=True),
    Entry("entity_resolution", q_entity_resolution, oracles.entity_resolution_sql, bench=True),
    Entry("snapshot_evolution", q_snapshot_evolution, oracles.snapshot_evolution_sql, bench=True),
    Entry("quality_ensemble", q_quality_ensemble,
          oracles.quality_ensemble_sql, per_sf=True, bench=True),
    Entry("incremental_report", q_incremental_report, oracles.incremental_report_sql, bench=True),
    Entry("dedup_eval", q_dedup_eval, oracles.dedup_eval_sql, bench=True),
    Entry("hybrid_retrieval", q_hybrid_retrieval,
          partial(oracles.hybrid_retrieval_sql, tuple(BM25_TERMS)), per_sf=True, bench=True),
    Entry("golden_records", q_golden_records, oracles.golden_records_sql, bench=True),
    Entry("table_profile", q_table_profile, oracles.table_profile_sql, bench=True),
    Entry("image_near_dup", q_image_near_dup, oracles.image_near_dup_sql, bench=True),
    Entry("winnow_fingerprints", q_winnow_fingerprints,
          oracles.winnow_fingerprints_sql, bench=True),
    Entry("shingle_jaccard_pairs", q_shingle_jaccard_pairs,
          oracles.shingle_jaccard_pairs_sql, bench=True),
    Entry("host_communities", q_host_communities, oracles.host_communities_sql, bench=True),
    Entry("snapshot_changelog", q_snapshot_changelog, oracles.snapshot_changelog_sql, bench=True),
    Entry("host_triangles", q_host_triangles, oracles.host_triangles_sql, bench=True),
    # streaming epoch-union must equal the one-shot all-pairs truth
    Entry("stream_incremental_dedup", q_stream_incremental_dedup, oracles.minhash_near_dup_sql),
    Entry("bpe_fertility", q_bpe_fertility, oracles.bpe_fertility_sql, per_sf=True, bench=True),
    Entry("source_topk", q_source_topk, oracles.source_topk_sql, bench=True),
    Entry("stratified_sample", q_stratified_sample, oracles.stratified_sample_sql, bench=True),
    Entry("corpus_report", q_corpus_report, oracles.corpus_report_sql, bench=True),
    Entry("topic_tags", q_topic_tags, oracles.topic_tags_sql, bench=True),
    Entry("lm_quality_trigram", q_lm_quality_trigram,
          oracles.trigram_lm_sql, per_sf=True, bench=True),
    # merged two-half CMS must equal the oracle's one-shot build
    Entry("cms_heavy_hitters", q_cms_heavy_hitters, oracles.cms_heavy_hitters_sql, bench=True),
    Entry("bloom_decontamination", q_bloom_decontamination,
          oracles.bloom_decontamination_sql, bench=True),
    Entry("quality_classifier", q_quality_classifier,
          oracles.nb_classifier_sql, per_sf=True, bench=True),
    Entry("bpe_train", q_bpe_train, oracles.bpe_train_sql, per_sf=True, bench=True),
    Entry("bpe_segment", q_bpe_segment, oracles.bpe_segment_sql, per_sf=True),
    Entry("collocations", q_collocations, oracles.collocations_sql, bench=True),
    # streamed epoch-delta merge must equal the one-shot sketch
    Entry("stream_cms_sketch", q_stream_cms_sketch, oracles.cms_heavy_hitters_sql),
    Entry("hist_quantiles", q_hist_quantiles, oracles.hist_quantiles_sql, bench=True),
    Entry("host_hits", q_host_hits, oracles.host_hits_sql, bench=True),
    Entry("containment_decontamination", q_containment_decontamination,
          oracles.containment_decontamination_sql, bench=True),
    Entry("c4_filter", q_c4_filter, oracles.c4_filter_sql, bench=True),
    Entry("ccnet_buckets", q_ccnet_buckets, oracles.ccnet_buckets_sql, per_sf=True, bench=True),
    Entry("sequence_packing", q_sequence_packing, oracles.sequence_packing_sql, bench=True),
    Entry("pretraining_corpus", q_pretraining_corpus, oracles.pretraining_corpus_sql, bench=True),
    Entry("fuzzy_decontamination", q_fuzzy_decontamination,
          oracles.fuzzy_decontamination_sql, bench=True),
    Entry("decontamination", q_decontamination, oracles.decontamination_sql, bench=True),
    Entry("semdedup", q_semdedup, oracles.semdedup_sql, per_sf=True, bench=True),
    Entry("dsir_weights", q_dsir_weights, oracles.dsir_sql, per_sf=True, bench=True),
    Entry("lm_quality_bigram", q_lm_quality_bigram, oracles.bigram_lm_sql, per_sf=True),
    Entry("gopher_repetition", q_gopher_repetition, oracles.gopher_repetition_sql),
    Entry("dup_ngram_coverage", q_dup_ngram_coverage, oracles.dup_ngram_coverage_sql),
    Entry("quality_filter", q_quality_filter, oracles.quality_filter_sql),
    # --- last attested in CORRECTNESS_r03.json ---
    Entry("embedding_near_dup_lsh", q_embedding_near_dup_lsh,
          oracles.embedding_near_dup_lsh_sql, bench=True),
    Entry("minhash_near_dup", q_minhash_near_dup, oracles.minhash_near_dup_sql, bench=True),
    # incremental(batch2 | store(batch1)) ∪ pairs(batch1) must equal
    # the FULL all-pairs truth — the same oracle pins both layouts
    Entry("minhash_near_dup_incremental", q_minhash_near_dup_incremental,
          oracles.minhash_near_dup_sql),
    Entry("near_dup_components", q_near_dup_components, oracles.near_dup_components_sql),
    Entry("simhash", q_simhash, oracles.simhash_sql),
    Entry("simhash_near_dup", q_simhash_near_dup, oracles.simhash_near_dup_sql),
    Entry("ann_topk_lsh", q_ann_topk_lsh, oracles.ann_topk_lsh_sql),
    Entry("image_preprocess", q_image_preprocess, oracles.image_preprocess_sql, bench=True),
    Entry("image_preprocess_png", _image_preprocess_in("png"),
          oracles.image_preprocess_sql, bench=True),
    Entry("image_preprocess_jpeg", _image_preprocess_in("jpeg"),
          partial(oracles.image_preprocess_sql, codec="jpeg"), bench=True),
    Entry("pdf_pages", q_pdf_pages, oracles.pdf_pages_sql),
    Entry("host_quality", q_host_quality, oracles.host_quality_sql),
    Entry("error_taxonomy", q_error_taxonomy, oracles.error_taxonomy_sql),
    Entry("ocr_words", q_ocr_words, oracles.ocr_words_sql),
    Entry("route_stats", q_route_stats, oracles.route_stats_sql),
    Entry("media_features", q_media_features, oracles.media_features_sql),
    Entry("media_resize", q_media_resize, oracles.media_resize_sql),
    Entry("merge_pdf_artifacts", q_merge_pdf_artifacts, oracles.merge_pdf_artifacts_sql),
    Entry("extraction_spans", q_extraction_spans, oracles.extraction_spans_sql),
    Entry("rollup_source", q_rollup_source, oracles.rollup_source_sql, bench=True),
    Entry("quality_score", q_quality_score, oracles.quality_score_sql, bench=True),
    Entry("lang_agreement", q_lang_agreement, oracles.lang_agreement_sql),
    Entry("exact_dedup", q_exact_dedup, oracles.exact_dedup_sql, bench=True),
    Entry("ngram_jaccard", q_ngram_jaccard, oracles.ngram_jaccard_sql),
    Entry("topk_cosine", q_topk_cosine, oracles.topk_cosine_sql, bench=True),
    Entry("retention_cleanup", q_retention_cleanup, oracles.retention_cleanup_sql),
    Entry("token_count", q_token_count, oracles.token_count_sql, bench=True),
    Entry("lang_guess", q_lang_guess, oracles.lang_guess_sql),
    Entry("bpe_token_count", q_bpe_token_count, oracles.bpe_token_count_sql),
    Entry("fingerprint", q_fingerprint, oracles.fingerprint_sql),
    Entry("merge_sources", q_merge_sources, oracles.merge_sources_sql),
    # --- last attested in CORRECTNESS_r04.json ---
    Entry("inverted_index", q_inverted_index, oracles.inverted_index_sql, bench=True),
    Entry("snapshot_merge", q_snapshot_merge, oracles.snapshot_merge_sql),
    # the streamed upsert must land on the batch-merge construction
    Entry("stream_merge_sink", q_stream_merge_sink, oracles.snapshot_merge_sql),
    # Type0 generation: CMap-decoded extraction must be byte-equal
    Entry("pdf_pages_type0", q_pdf_pages_type0, oracles.pdf_pages_type0_sql),
    Entry("lm_quality", q_lm_quality, oracles.unigram_lm_sql, per_sf=True),
    Entry("paragraph_dedup", q_paragraph_dedup, oracles.paragraph_dedup_sql),
    Entry("span_dedup", q_span_dedup, oracles.span_dedup_sql, bench=True),
    Entry("outlink_graph", q_outlink_graph, oracles.outlink_graph_sql),
    Entry("host_pagerank", q_host_pagerank, oracles.host_pagerank_sql),
    Entry("anchor_text_index", q_anchor_text_index, oracles.anchor_text_index_sql),
    Entry("crawl_frontier", q_crawl_frontier, oracles.crawl_frontier_sql),
    Entry("site_domains", q_site_domains, oracles.site_domains_sql),
    Entry("mojibake_repair", q_mojibake_repair, oracles.mojibake_repair_sql),
    Entry("temperature_mix", q_temperature_mix, oracles.temperature_mix_sql),
    Entry("shard_manifest", q_shard_manifest, oracles.shard_manifest_sql),
    # the file round trip must land on the same manifest
    Entry("shard_export", q_shard_export, oracles.shard_manifest_sql),
    Entry("training_pipeline", q_training_pipeline, oracles.training_pipeline_sql, bench=True),
    Entry("hll_cardinality", q_hll_cardinality, oracles.hll_host_cardinality_sql),
    Entry("zorder_curve", q_zorder_curve, oracles.zorder_curve_sql),
    Entry("robots_filter", q_robots_filter, oracles.robots_filter_sql),
    Entry("image_preprocess_gif", _image_preprocess_in("gif"),
          partial(oracles.image_preprocess_sql, codec="gif")),
    Entry("image_preprocess_bmp", _image_preprocess_in("bmp"), oracles.image_preprocess_sql),
    Entry("image_preprocess_tiff", _image_preprocess_in("tiff"), oracles.image_preprocess_sql),
    Entry("image_preprocess_webp", _image_preprocess_in("webp"),
          partial(oracles.image_preprocess_sql, codec="webp"), bench=True),
    Entry("gopher_quality", q_gopher_quality, oracles.gopher_sql),
    Entry("pii_redact", q_pii_redact, oracles.pii_redact_sql),
    Entry("snapshot_time_travel", q_snapshot_time_travel, oracles.snapshot_time_travel_sql),
    Entry("bm25_scores", q_bm25_scores,
          partial(oracles.bm25_scores_sql, tuple(BM25_TERMS)), per_sf=True),
    Entry("boilerplate_removal", q_boilerplate_removal, oracles.boilerplate_removal_sql),
    Entry("crawl_diff", q_crawl_diff, oracles.crawl_diff_sql),
    Entry("host_length_quantiles", q_host_length_quantiles, oracles.host_length_quantiles_sql),
    Entry("sample_10pct", q_sample_10pct, oracles.sample_10pct_sql),
    Entry("split_counts", q_split_counts, oracles.split_counts_sql),
    Entry("top_docs_per_source", q_top_docs_per_source, oracles.top_docs_per_source_sql),
    Entry("extraction_doc_records", q_extraction_doc_records, oracles.extraction_doc_records_sql),
    # batch/streaming/WARC parity: every ingestion shape must match
    # the same construction oracle the batch plan matches
    Entry("warc_extraction", q_warc_extraction, oracles.extraction_doc_records_sql),
    Entry("stream_extraction", q_stream_extraction, oracles.extraction_doc_records_sql),
    Entry("stream_host_rate", q_stream_host_rate, oracles.stream_host_rate_sql),
    Entry("stream_host_totals", q_stream_host_totals, oracles.stream_host_totals_sql),
    # streaming -> snapshot sink must reconstruct the same table
    Entry("stream_snapshot_sink", q_stream_snapshot_sink, oracles.extraction_doc_records_sql),
    Entry("stream_dedup_urls", q_stream_dedup_urls, oracles.stream_dedup_urls_sql),
    Entry("chunk_documents", q_chunk_documents, oracles.chunk_documents_sql),
    Entry("url_dedup", q_url_dedup, oracles.url_dedup_sql),
    Entry("embedding_near_dup", q_embedding_near_dup, oracles.embedding_near_dup_sql, bench=True),
    # --- last attested in CORRECTNESS_r05.json ---
    Entry("source_topk_dense", q_source_topk_dense, oracles.source_topk_dense_sql, bench=True),
    Entry("dataset_split", q_dataset_split, oracles.split_report_sql, bench=True),
    Entry("phrase_match", q_phrase_match, oracles.phrase_match_sql, bench=True),
    Entry("vocab_coverage", q_vocab_coverage, partial(oracles.vocab_coverage_sql, 16), bench=True),
    Entry("weighted_sample", q_weighted_sample, oracles.weighted_sample_sql, bench=True),
    Entry("k_anonymity", q_k_anonymity, oracles.k_anonymity_sql, bench=True),
    Entry("frontier_shards", q_frontier_shards, oracles.frontier_shards_sql, bench=True),
    Entry("dup_cluster_stats", q_dup_cluster_stats, oracles.dup_cluster_stats_sql, bench=True),
    Entry("concordance", q_concordance, oracles.concordance_sql, bench=True),
    Entry("mirror_report", q_mirror_report, oracles.mirror_report_sql, bench=True),
    Entry("ann_recall_eval", q_ann_recall_eval, oracles.lsh_recall_eval_sql, bench=True),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The catalog's Spark plans, in gate order."""
    return {e.name: e.query for e in CATALOG}


def oracle_sql(sf_dir: str = SF_GATE) -> dict[str, str]:
    """Every catalog row's DuckDB twin. The driver calls this with no
    args (sf0.01, its gate dir); ``sf_dir`` is for the local gate
    replica (scripts/check_oracles.py --sf-dir ...). Building all of
    them takes ~70 s at sf0.01, most of it the image-container
    oracles: a caller that needs one row calls its ``Entry.oracle_sql``."""
    return {e.name: e.oracle_sql(sf_dir) for e in CATALOG}
