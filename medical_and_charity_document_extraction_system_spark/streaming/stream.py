"""Structured-Streaming front-end for the extraction pipeline.

The reference is request/response (no streaming — SURVEY.md section
2.8) and the north_rule specifies batch with checkpoint resume; this
module exists because the same DataFrame plan runs unchanged as a
stream: ``run_extraction`` is narrow transformations + mapInArrow,
all streaming-compatible. Use case: continuous ingestion of new WARC
drops into the extractions table.

``trigger(availableNow=True)`` gives batch-like one-shot draining with
streaming checkpoints — the recommended pattern for incremental
backfills.

Streams:

- ``run_extraction_stream``: the extraction plan, appended to parquet;
- ``host_rate_stream``: watermarked tumbling-window pages per host;
- ``dedup_url_stream``: exact url dedup within the watermark;
- ``extraction_to_snapshot_stream``: extraction committed into a
  snapshot table per micro-batch;
- ``host_running_totals_stream``: stateful per-host running totals;
- ``recrawl_merge_stream``: re-crawl upserts into a snapshot table;
- ``cms_register_stream`` / ``hll_register_stream``: epoch-keyed
  Count-Min / HyperLogLog register deltas (read back merged by
  ``read_cms_registers`` / ``read_hll_registers``);
- ``incremental_dedup_stream``: near-dup pairs against a growing
  MinHash signature store.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..plans.pipeline import run_extraction
from ..schema import PAGES_SCHEMA


def run_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    out = run_extraction(stream, cfg)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_rate_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked tumbling-window per-host page counts — the
    streaming twin of plans/metrics.host_quality_metrics. Late pages
    inside the watermark update their window; older ones are dropped
    (state stays bounded — the property that matters on an unbounded
    WARC firehose)."""
    from pyspark.sql import functions as F

    from ..plans.salting import host_of

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            host_of(F.col("url")).alias("host"),
        )
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")  # windows emit once their watermark passes
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_url_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup by url: re-crawled pages arriving within
    the watermark are dropped, state is evicted after it. The
    streaming analog of operators/dedup.exact_dedup keyed on url —
    upstream of the extraction stream this makes reprocessing
    idempotent per crawl window."""
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    deduped = stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extraction_to_snapshot_stream(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous extraction committed into the snapshot-versioned
    table (plans/snapstore.SnapshotTable) via foreachBatch — one
    append SNAPSHOT per micro-batch, so every drained batch is an
    atomic, time-travelable table version (the Iceberg streaming-sink
    pattern). Exactly-once: the commit is TAGGED with the epoch id, so
    a batch replayed after a crash-before-checkpoint returns the
    already-committed snapshot instead of double-appending — the
    foreachBatch idempotence contract the Structured Streaming guide
    requires of the sink."""
    from ..plans.snapstore import SnapshotTable

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    out = run_extraction(stream, cfg)
    table = SnapshotTable(spark, table_path)
    # scope the idempotence tag to THIS logical stream: epoch ids
    # restart at 0 for a fresh checkpoint, so a bare epoch tag would
    # make a second stream into the same table silently drop its
    # batches. The checkpoint dir is stable across restarts of the
    # same query and distinct for new ones (Delta's txnAppId pattern).
    import hashlib as _hashlib

    stream_id = _hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()[:12]

    def commit_batch(batch_df, epoch_id: int) -> None:
        table.commit(batch_df, "append", tag=f"{stream_id}-epoch-{epoch_id}")

    writer = (
        out.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_running_totals_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
) -> StreamingQuery:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-host RUNNING totals (pages, bytes) maintained across
    micro-batches — cumulative state that windowed aggregation cannot
    express. Each micro-batch emits the updated running row per host
    touched; state is one tiny tuple per host (bounded by host
    cardinality, not input size)."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..plans.salting import host_of

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    hosts = stream.select(
        host_of(F.col("url")).alias("host"),
        F.coalesce(F.length("html"), F.lit(0)).alias("n_bytes"),
    )

    def update(key, pdfs, state: GroupState):
        (host,) = key
        pages, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            pages += len(pdf)
            total += int(pdf["n_bytes"].sum())
        state.update((pages, total))
        yield pd.DataFrame(
            {"host": [host], "total_pages": [pages], "total_bytes": [total]}
        )

    out = hosts.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, total_pages long, total_bytes long",
        stateStructType="total_pages long, total_bytes long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def recrawl_merge_stream(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming re-crawl UPSERT: each micro-batch MERGEs into the
    snapshot table by key (plans/snapstore.SnapshotTable.merge) —
    revised documents replace their previous version file-granularly,
    unseen keys insert, and every batch is a time-travelable
    snapshot. Exactly-once via the same checkpoint-scoped epoch tag
    as extraction_to_snapshot_stream. This is the daily-recrawl sink:
    per-batch cost scales with the touched files, not the table."""
    import hashlib as _hashlib

    from ..plans.snapstore import SnapshotTable

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    table = SnapshotTable(spark, table_path)
    stream_id = _hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()[:12]

    def commit_batch(batch_df, epoch_id: int) -> None:
        table.merge(batch_df, key_col, tag=f"{stream_id}-epoch-{epoch_id}")

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cms_register_stream(
    spark: SparkSession,
    input_dir: str,
    registers_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 2,
) -> StreamingQuery:
    """Streaming Count-Min maintenance (the sketch-mergeability
    payoff): each micro-batch aggregates its own token counts,
    sketches them, and writes the register DELTA to an epoch-keyed
    subdirectory. Replayed batches overwrite the same path —
    idempotent, the foreachBatch contract — and the sketch "as of
    now" is the groupBy-SUM merge of every delta on disk, valid
    because CMS cells merge by addition (operators/sketches.py).
    State never grows past D*W cells per epoch file, and no epoch
    ever rewrites another's output — contrast with the snapshot sink
    above, which needs a tag protocol because its commits share one
    table."""
    from pyspark.sql import functions as F

    from ..functions.textstats import tokens
    from ..operators.sketches import cms_registers

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def commit_batch(batch_df, epoch_id: int) -> None:
        counts = (
            batch_df.select(F.explode(tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        cms_registers(counts).write.mode("overwrite").parquet(
            f"{registers_dir}/epoch_{epoch_id}"
        )

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cms_registers(spark: SparkSession, registers_dir: str):
    """Merge every epoch delta into the current sketch — one
    groupBy-SUM, the same operation merge_cms_registers applies to
    batch halves."""
    from pyspark.sql import functions as F

    deltas = spark.read.parquet(f"{registers_dir}/epoch_*")
    return deltas.groupBy("row", "bucket").agg(
        F.sum("cell").cast("long").alias("cell")
    )


def incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    available_now: bool = True,
    max_files_per_trigger: int = 2,
) -> StreamingQuery:
    """Streaming near-duplicate detection against a growing signature
    store — the continuous-ingestion form of the dedup layer: each
    micro-batch (a recrawl drop) emits its near-dup pairs against
    everything ingested before it, then adds its own signatures to
    the store. The union of every epoch's pairs equals the one-shot
    all-pairs truth for ANY batch slicing (the incremental invariant
    operators/dedup.incremental_minhash_near_dup pins: old-vs-old
    pairs were emitted by earlier epochs, batch-internal and
    batch-vs-store pairs are emitted now, and a doc never re-enters a
    later batch).

    Replay-deterministic by construction, with NO tag protocol:
    both outputs are epoch-keyed subdirectories (``epoch=N``), and
    the store state a batch deduplicates against is the PARTITION-
    PRUNED ``epoch < N`` slice — so a crashed-and-replayed epoch
    recomputes from exactly the state its first attempt saw, even if
    that attempt already wrote this epoch's signatures. Contrast with
    recrawl_merge_stream, whose shared-table sink needs epoch tags.

    Per-epoch cost is O(batch x bands) candidates + verification
    shingling over candidate ids only — corpus-size-independent, the
    property that makes the plan survive a petabyte-scale backlog.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import (
        incremental_minhash_near_dup,
        minhash_signatures,
    )

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path

    def commit_batch(batch_df, epoch_id: int) -> None:
        jpath = jvm_path(store_dir)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            stored = (
                spark.read.parquet(store_dir)
                .where(F.col("epoch") < epoch_id)
                .select("doc_id", "band_keys", "text_md5")
            )
        else:
            stored = spark.createDataFrame(
                [], "doc_id bigint, band_keys array<bigint>, text_md5 string"
            )
        corpus = spark.read.parquet(input_dir)
        pairs = incremental_minhash_near_dup(
            batch_df, stored, corpus, threshold=threshold
        )
        pairs.select("id_a", "id_b", "jaccard").write.mode("overwrite").parquet(
            f"{pairs_dir}/epoch={epoch_id}"
        )
        sigs = minhash_signatures(batch_df).join(
            batch_df.select(
                "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5")
            ),
            "doc_id",
        )
        sigs.write.mode("overwrite").parquet(f"{store_dir}/epoch={epoch_id}")

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def hll_register_stream(
    spark: SparkSession,
    input_dir: str,
    registers_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 2,
) -> StreamingQuery:
    """Streaming HyperLogLog maintenance: each micro-batch sketches
    its own rows into per-source registers and writes them to an
    epoch-keyed subdirectory; the sketch "as of now" is the
    groupBy-MAX merge of every epoch file. Strictly easier than the
    CMS stream above: register merge is max (idempotent AND
    commutative), so even a double-applied epoch — not just a
    replayed-then-overwritten one — could not skew the estimate.
    State per epoch is bounded by sources x 256 registers."""
    from ..operators.sketches import hll_registers

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def commit_batch(batch_df, epoch_id: int) -> None:
        hll_registers(batch_df, ["source"], "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{registers_dir}/epoch_{epoch_id}")

    writer = (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_hll_registers(spark: SparkSession, registers_dir: str):
    """Merge every epoch's registers into the current sketch — one
    groupBy-MAX, the same operation merge_hll_registers applies to
    batch halves."""
    from pyspark.sql import functions as F

    deltas = spark.read.parquet(f"{registers_dir}/epoch_*")
    keys = [c for c in deltas.columns if c not in ("bucket", "mreg")]
    return deltas.groupBy(*keys, "bucket").agg(F.max("mreg").alias("mreg"))
