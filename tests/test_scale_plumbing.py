"""North_rule plumbing: salting, checkpoint/resume, metrics, streaming,
spark-submit job entrypoint."""

import os

import pytest
from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.plans.checkpoint import (
    run_checkpointed,
)
from medical_and_charity_document_extraction_system_spark.plans.metrics import (
    host_quality_metrics,
    partition_metrics,
)
from medical_and_charity_document_extraction_system_spark.plans.salting import (
    find_heavy_hosts,
    salted_host_repartition,
    repartition_by_url,
)
from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.streaming import (
    run_extraction_stream,
)


def test_default_cpus_is_affinity_unless_env_set(monkeypatch):
    from medical_and_charity_document_extraction_system_spark.session import (
        default_cpus,
    )

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


def test_find_heavy_hosts(pages_small):
    heavy = find_heavy_hosts(pages_small, heavy_fraction=0.2)
    assert heavy == ["host0.example.com"]  # planted ~40% skew


def test_salted_repartition_splits_heavy_host(pages_small):
    heavy = ["host0.example.com"]
    df = salted_host_repartition(pages_small, 16, heavy, salt_buckets=8)
    sizes = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # without salting host0's ~200 rows land in one partition
    assert sizes < 150


def test_job_layout_applies_salting_under_skew(pages_small):
    """The production entrypoint must actually APPLY the heavy-host
    detection it pays for: under the planted 40% host0 skew,
    choose_layout returns the salted host layout whose extraction-
    stage partitions are balanced (host0 split across salt buckets)."""
    from medical_and_charity_document_extraction_system_spark.job import choose_layout

    laid_out, heavy = choose_layout(pages_small, partitions=16, salt_buckets=8)
    assert "host0.example.com" in heavy
    sizes = [
        r["count"]
        for r in laid_out.groupBy(F.spark_partition_id()).count().collect()
    ]
    # host0 carries ~200 of 500 rows; salted layout caps any single
    # extraction task well below that
    assert max(sizes) < 150


def test_job_layout_uniform_without_skew(spark):
    """No heavy hosts -> uniform url-hash layout (and no layout change
    when partitions is None)."""
    from medical_and_charity_document_extraction_system_spark.job import choose_layout

    rows = [(f"https://host{i}.example.com/doc/{i}", f"t{i}") for i in range(200)]
    flat = spark.createDataFrame(rows, "url string, text string")
    laid_out, heavy = choose_layout(flat, partitions=16, salt_buckets=8)
    assert heavy == []
    counts = [
        r["count"] for r in laid_out.groupBy(F.spark_partition_id()).count().collect()
    ]
    assert len(counts) == 16
    same, heavy2 = choose_layout(flat, partitions=None, salt_buckets=8)
    assert same is flat and heavy2 == []


def test_repartition_by_url_balances(pages_small):
    df = repartition_by_url(pages_small, 16)
    counts = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    assert len(counts) == 16
    assert max(counts) < 2.0 * (sum(counts) / len(counts))


def test_checkpoint_resume_equals_single_run(spark, pages_small, tmp_path):
    out1 = str(tmp_path / "out_full")
    man1 = str(tmp_path / "man_full")
    done = run_checkpointed(spark, pages_small, out1, man1, "run1", n_buckets=8)
    assert done == list(range(8))
    full = spark.read.parquet(out1)

    # interrupted run: only buckets 0-2 complete, then resume
    out2 = str(tmp_path / "out_resume")
    man2 = str(tmp_path / "man_resume")
    first = run_checkpointed(
        spark, pages_small, out2, man2, "run1", n_buckets=8, only_parts=[0, 1, 2]
    )
    assert first == [0, 1, 2]
    second = run_checkpointed(spark, pages_small, out2, man2, "run1", n_buckets=8)
    assert second == [3, 4, 5, 6, 7]  # exactly N-K buckets reprocessed
    resumed = spark.read.parquet(out2)

    a = sorted((r.url, r.text) for r in full.collect())
    b = sorted((r.url, r.text) for r in resumed.collect())
    assert a == b

    # idempotent: nothing left
    assert run_checkpointed(spark, pages_small, out2, man2, "run1", n_buckets=8) == []


def test_partition_metrics_totals(extracted_small):
    m = partition_metrics(extracted_small, "run1")
    tot = m.agg(F.sum("docs_in"), F.sum("docs_ok"), F.sum("docs_error")).first()
    assert tot[0] == 500
    assert tot[1] + tot[2] == 500
    assert tot[2] == 10  # planted error rows


def test_host_quality_metrics(extracted_small):
    rows = {r.host: r for r in host_quality_metrics(extracted_small, "run1").collect()}
    assert "host0.example.com" in rows
    total = sum(r.docs for r in rows.values())
    assert total == 500
    for r in rows.values():
        assert 0.0 <= r.error_share <= 1.0


def test_streaming_matches_batch(spark, pages_small, tmp_path):
    inp = str(tmp_path / "stream_in")
    outp = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    pages_small.write.parquet(inp)
    q = run_extraction_stream(spark, inp, outp, ckpt)
    q.awaitTermination(300)
    got = sorted(
        (r.url, r.text, r.processing_method)
        for r in spark.read.parquet(outp).collect()
    )
    exp = sorted(
        (r.url, r.text, r.processing_method)
        for r in run_extraction(pages_small).collect()
    )
    assert got == exp


def test_job_entrypoint(spark, pages_small, tmp_path):
    inp = str(tmp_path / "job_in")
    pages_small.write.parquet(inp)
    from medical_and_charity_document_extraction_system_spark.job import main

    res = main(
        [
            "--input", inp,
            "--output", str(tmp_path / "job_out"),
            "--metrics", str(tmp_path / "job_metrics"),
            "--manifest", str(tmp_path / "job_manifest"),
            "--run-id", "jobrun",
            "--buckets", "8",
            "--partitions", "8",
        ],
        spark=spark,
    )
    assert res["completed_parts"] == list(range(8))
    # default threshold 5%: the three planted heavy hosts (40/20/10%)
    assert "host0.example.com" in res["heavy_hosts"]
    out = spark.read.parquet(str(tmp_path / "job_out"))
    assert out.count() == 500
    metrics = spark.read.parquet(str(tmp_path / "job_metrics"))
    assert metrics.agg(F.sum("docs_in")).first()[0] == 500


def test_job_rejects_non_positive_widths(capsys):
    # 0 buckets would checkpoint nothing and "succeed", 0 partitions
    # would read as unset, 0 salt buckets would pmod by zero
    from medical_and_charity_document_extraction_system_spark.job import build_parser

    base = ["--input", "i", "--output", "o", "--metrics", "m", "--manifest", "f",
            "--run-id", "r"]
    parser = build_parser()
    for flag in ("--buckets", "--partitions", "--salt-buckets"):
        with pytest.raises(SystemExit):
            parser.parse_args(base + [flag, "0"])
        assert "must be >= 1" in capsys.readouterr().err
    args = parser.parse_args(base)
    assert (args.buckets, args.partitions, args.salt_buckets) == (256, None, 8)
    assert parser.parse_args(base + ["--partitions", "4"]).partitions == 4


def _job_args(tmp_path, inp, buckets, partitions=None):
    args = [
        "--input", inp,
        "--output", str(tmp_path / "job_out"),
        "--metrics", str(tmp_path / "job_metrics"),
        "--manifest", str(tmp_path / "job_manifest"),
        "--run-id", "jobrun",
        "--buckets", str(buckets),
    ]
    return args + ["--partitions", str(partitions)] if partitions else args


def _flat_pages(spark, tmp_path):
    """200 skew-free urls (one host each) as a pages parquet input."""
    rows = [(f"https://host{i}.example.com/doc/{i}", f"t{i}") for i in range(200)]
    inp = str(tmp_path / "flat_in")
    spark.createDataFrame(rows, "url string, text string").write.parquet(inp)
    return inp


def test_url_layout_aligns_with_checkpoint_buckets(spark, tmp_path):
    """repartition_by_url and the checkpoint bucket are one hash: with
    the width dividing the bucket count each bucket sits in one task,
    so the job writes one file per bucket."""
    import glob

    from medical_and_charity_document_extraction_system_spark.job import main
    from medical_and_charity_document_extraction_system_spark.plans.checkpoint import (
        url_bucket,
    )

    inp = _flat_pages(spark, tmp_path)
    laid_out = repartition_by_url(spark.read.parquet(inp), 4)
    misplaced = laid_out.where(
        url_bucket(8) % 4 != F.spark_partition_id()
    ).count()
    assert misplaced == 0

    res = main(_job_args(tmp_path, inp, buckets=8, partitions=4), spark=spark)
    assert res["heavy_hosts"] == []
    out = str(tmp_path / "job_out")
    dirs = sorted(glob.glob(f"{out}/part_id=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == [str(b) for b in range(8)]
    for d in dirs:
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_job_noop_rerun_keeps_metrics(spark, tmp_path):
    """A re-run whose buckets are all in the manifest redoes nothing
    and appends no second copy of the metrics."""
    from medical_and_charity_document_extraction_system_spark.job import main

    inp = _flat_pages(spark, tmp_path)
    args = _job_args(tmp_path, inp, buckets=8)
    assert main(args, spark=spark)["completed_parts"] == list(range(8))
    assert main(args, spark=spark)["completed_parts"] == []
    metrics = spark.read.parquet(str(tmp_path / "job_metrics"))
    assert metrics.agg(F.sum("docs_in")).first()[0] == 200
    hosts = spark.read.parquet(str(tmp_path / "job_metrics_hosts"))
    assert hosts.agg(F.sum("docs")).first()[0] == 200


def test_job_empty_input_writes_empty_metrics(spark, tmp_path):
    """A zero-row input completes every bucket and writes zero-row
    metrics tables; the re-run then redoes nothing."""
    from medical_and_charity_document_extraction_system_spark.job import main
    from medical_and_charity_document_extraction_system_spark.schema import PAGES_SCHEMA

    inp = str(tmp_path / "empty_in")
    spark.createDataFrame([], PAGES_SCHEMA).write.parquet(inp)
    args = _job_args(tmp_path, inp, buckets=4)
    assert main(args, spark=spark)["completed_parts"] == [0, 1, 2, 3]
    assert spark.read.parquet(str(tmp_path / "job_metrics")).count() == 0
    assert spark.read.parquet(str(tmp_path / "job_metrics_hosts")).count() == 0
    assert main(args, spark=spark)["completed_parts"] == []


def test_host_rate_stream_windowed_counts(spark, pages_small, tmp_path):
    """Watermarked tumbling window counts match the batch twin."""
    from medical_and_charity_document_extraction_system_spark.streaming import host_rate_stream

    inp = str(tmp_path / "rate_in")
    outp = str(tmp_path / "rate_out")
    ckpt = str(tmp_path / "rate_ckpt")
    pages_small.write.parquet(inp)
    q = host_rate_stream(spark, inp, outp, ckpt)
    q.awaitTermination(300)
    got = {
        (r.window_start, r.host): r.n_pages
        for r in spark.read.parquet(outp).collect()
    }
    from medical_and_charity_document_extraction_system_spark.plans.salting import host_of

    import datetime

    max_ts = pages_small.agg(F.max("warc_ts")).first()[0]
    # append mode emits a window once the watermark (max event time -
    # 2h) passes its END; trailing windows stay in state
    cutoff = max_ts - datetime.timedelta(hours=2)
    exp = {
        (r.w, r.host): r.n
        for r in pages_small.groupBy(
            F.date_trunc("hour", "warc_ts").alias("w"),
            host_of(F.col("url")).alias("host"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.w + datetime.timedelta(hours=1) <= cutoff
    }
    assert got == exp
    assert sum(got.values()) > 300  # the bulk of the 500 pages emitted


def test_dedup_url_stream_drops_recrawls(spark, pages_small, tmp_path):
    from medical_and_charity_document_extraction_system_spark.streaming import dedup_url_stream

    inp = str(tmp_path / "dd_in")
    outp = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    doubled = pages_small.unionByName(pages_small)  # every url re-crawled
    doubled.write.parquet(inp)
    q = dedup_url_stream(spark, inp, outp, ckpt)
    q.awaitTermination(300)
    out = spark.read.parquet(outp)
    assert out.count() == 500
    assert out.select("url").distinct().count() == 500


def test_host_running_totals_stateful_stream(spark, pages_small, tmp_path):
    """applyInPandasWithState keeps per-host running totals across
    micro-batches; the final row per host equals the batch totals."""
    from medical_and_charity_document_extraction_system_spark.plans.salting import host_of
    from medical_and_charity_document_extraction_system_spark.streaming import (
        host_running_totals_stream,
    )

    inp = str(tmp_path / "rt_in")
    outp = str(tmp_path / "rt_out")
    ckpt = str(tmp_path / "rt_ckpt")
    pages_small.repartition(8).write.parquet(inp)  # 8 files -> 2 micro-batches
    q = host_running_totals_stream(spark, inp, outp, ckpt, max_files_per_trigger=4)
    q.awaitTermination(300)
    out = spark.read.parquet(outp)
    # running rows accumulate; the max per host is the final total
    final = {
        r.host: (r.total_pages, r.total_bytes)
        for r in out.groupBy("host")
        .agg(
            F.max("total_pages").alias("total_pages"),
            F.max("total_bytes").alias("total_bytes"),
        )
        .collect()
    }
    exp = {
        r.host: (r.n, r.b)
        for r in pages_small.groupBy(host_of(F.col("url")).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("b"),
        )
        .collect()
    }
    assert final == exp


def test_streaming_cms_matches_one_shot_and_is_idempotent(spark, tmp_path):
    """Epoch-delta CMS maintenance: slicing the corpus into
    micro-batches must not move a single cell (addition commutes),
    and a second availableNow run over the same checkpoint must
    process nothing (foreachBatch idempotence via epoch-keyed
    paths)."""
    import pyspark.sql.functions as F

    from medical_and_charity_document_extraction_system_spark.functions.textstats import tokens
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        cms_registers,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        cms_register_stream,
        read_cms_registers,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} common") for i in range(40)],
        "doc_id long, text string",
    )
    inp, regs, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "regs"),
        str(tmp_path / "ck"),
    )
    docs.repartition(6).write.parquet(inp)
    cms_register_stream(spark, inp, regs, ck, max_files_per_trigger=2).awaitTermination()
    import glob

    epochs = glob.glob(f"{regs}/epoch_*")
    assert len(epochs) >= 2  # genuinely incremental, not one batch
    merged = {
        (r["row"], r["bucket"]): r["cell"]
        for r in read_cms_registers(spark, regs).collect()
    }
    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    one_shot = {
        (r["row"], r["bucket"]): r["cell"] for r in cms_registers(counts).collect()
    }
    assert merged == one_shot
    # replay: same checkpoint, no new files -> no new epochs, same cells
    cms_register_stream(spark, inp, regs, ck, max_files_per_trigger=2).awaitTermination()
    assert sorted(glob.glob(f"{regs}/epoch_*")) == sorted(epochs)
    merged2 = {
        (r["row"], r["bucket"]): r["cell"]
        for r in read_cms_registers(spark, regs).collect()
    }
    assert merged2 == one_shot


def test_streaming_incremental_dedup_matches_one_shot(spark, tmp_path):
    """Epoch-sliced near-dup dedup: the union of per-epoch pair
    outputs equals the one-shot all-pairs result for this slicing,
    each batch only deduplicates against strictly earlier epochs
    (partition-pruned store slice), and a replay over the same
    checkpoint adds nothing."""
    import glob

    from medical_and_charity_document_extraction_system_spark.operators.dedup import (
        minhash_near_dup,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        incremental_dedup_stream,
    )

    base = "word another token fill pad extra more lines of text here "
    rows = [(i, base * 3 + f"tail{i // 10}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    inp, store, pairs, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "store"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ck"),
    )
    docs.repartition(6).write.parquet(inp)
    incremental_dedup_stream(spark, inp, store, pairs, ck).awaitTermination()
    epoch_dirs = glob.glob(f"{pairs}/epoch=*")
    assert len(epoch_dirs) >= 2  # genuinely incremental
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in spark.read.parquet(pairs)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_dup(spark.read.parquet(inp)).collect()
    }
    assert got == want and len(want) > 0
    # every pair emitted exactly once across epochs
    n_rows = spark.read.parquet(pairs).count()
    assert n_rows == len(got)
    # replay: no new files -> no new epochs, identical union
    incremental_dedup_stream(spark, inp, store, pairs, ck).awaitTermination()
    assert sorted(glob.glob(f"{pairs}/epoch=*")) == sorted(epoch_dirs)
    got2 = {
        (r.id_a, r.id_b): r.jaccard
        for r in spark.read.parquet(pairs)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got2 == want


def test_streaming_hll_matches_one_shot_and_double_apply_is_safe(
    spark, tmp_path
):
    """Epoch-register HLL maintenance: any micro-batch slicing must
    merge (groupBy-MAX) to the one-shot register table, and because
    max is idempotent, even re-merging an epoch's registers TWICE
    (a fault the additive CMS cells could not survive) changes
    nothing."""
    from medical_and_charity_document_extraction_system_spark.operators.sketches import (
        hll_registers,
    )
    from medical_and_charity_document_extraction_system_spark.streaming import (
        hll_register_stream,
        read_hll_registers,
    )

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    inp, regs, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "regs"),
        str(tmp_path / "ck"),
    )
    docs.repartition(6).write.parquet(inp)
    hll_register_stream(
        spark, inp, regs, ck, max_files_per_trigger=2
    ).awaitTermination()
    import glob

    epochs = sorted(glob.glob(f"{regs}/epoch_*"))
    assert len(epochs) >= 2  # genuinely incremental
    merged = {
        (r["source"], r["bucket"]): r["mreg"]
        for r in read_hll_registers(spark, regs).collect()
    }
    one_shot = {
        (r["source"], r["bucket"]): r["mreg"]
        for r in hll_registers(docs, ["source"], "doc_id").collect()
    }
    assert merged == one_shot
    # double-apply: union one epoch's registers in twice, re-merge
    extra = spark.read.parquet(epochs[0])
    doubled = spark.read.parquet(f"{regs}/epoch_*").unionByName(extra)
    import pyspark.sql.functions as F

    remerged = {
        (r["source"], r["bucket"]): r["mreg"]
        for r in doubled.groupBy("source", "bucket")
        .agg(F.max("mreg").alias("mreg"))
        .collect()
    }
    assert remerged == one_shot
