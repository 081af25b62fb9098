"""One benchmark run, in its own process: ``run.py`` starts it with
``python -m perfbench.worker`` and times it from process start to the
``READY`` line (the set-up time).

Protocol on stdout: ``READY`` once the session is up and the Python
worker pool is warm; human-readable report lines; finally
``RESULT <json>``. Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time
from contextlib import ExitStack, nullcontext

from pyspark.sql import functions as F

from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.session import get_spark

from . import gen, jobs, layers, oracle, procstat
from .trace import Tracer

# untimed runs of the timed job first, for at least WARMUP_S and two
# runs: the JVM's JIT settles (crawl_mix's first run is ~30% slower than
# its third). Kept short so that the measured window can be long: on a
# shared VM the CPU's speed drifts by 10-20% over stretches of ~20 s, and
# a 25 s window of medians halved the run-to-run spread of a 10 s one.
WARMUP_S = 8.0
MIN_SAMPLES = 3
LAYER_REPEATS = 2  # runs of each Spark-side layer job in a traced run


def warm_pool(spark, width: int) -> None:
    """A first, untimed extraction over ``width`` partitions, so that
    every Python worker has started and imported the pipeline."""
    pages = spark.range(0, 16 * width, 1, width).select(
        F.concat(F.lit("https://warm.example.com/doc/"), F.col("id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>Invoice 12345 dated 01/02/23, item "), F.col("id").cast("string"), F.lit("</p>")), "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    jobs.noop(run_extraction(pages))


def one_file_per_split(spark, input_dir: str) -> None:
    """Each input file becomes one scan task, whatever the corpus size."""
    largest = max(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(input_dir) for f in files
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest))
    spark.conf.set("spark.sql.files.openCostInBytes", str(largest // 2 + 1))


class Runner:
    """Runs the timed job and checks every output against the oracle."""

    def __init__(self, spark, job: jobs.ExtractionJob, corpus: gen.Corpus, width: int) -> None:
        self.spark = spark
        self.job = job
        self.corpus = corpus
        self.jvm = procstat.find_jvm()
        self.sampler = procstat.WorkerRssSampler(self.jvm, width)
        self.runs = 0
        self.attempted = 0
        self.failed = 0
        self.route_errors: list[dict] = []
        self._expected_hashes: dict[str, int] | None = None

    def _task_failures(self, group: str) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                stage = tracker.getStageInfo(stage_id)
                failed += stage.numFailedTasks if stage else 0
        return failed

    def check(self, summary: dict, url_hashes) -> None:
        """Counts one output's failing urls into ``failed``;
        ``url_hashes()`` gives its per-url hashes when the summary differs."""
        expected = self.corpus.meta["expected"]
        self.attempted += self.corpus.n_urls
        if summary == expected:
            return
        routes = oracle.route_mismatch(summary, expected)
        if routes:
            self.route_errors.append(routes)
        if self._expected_hashes is None:
            self._expected_hashes = dict(oracle.url_hashes(self.spark.read.parquet(self.corpus.expected_path)))
        # a summary that differs is at least one failing url
        self.failed += max(1, len(oracle.compare(self._expected_hashes, url_hashes())))

    def run(self, tracer: Tracer | None = None) -> dict:
        i = self.runs
        self.runs += 1
        group = f"perfbench-{i}"
        self.spark.sparkContext.setJobGroup(group, f"perfbench run {i}")
        cpu0 = procstat.tree_cpu_s(self.jvm)
        self.sampler.start()
        with tracer.span("pipeline.run_extraction") if tracer else nullcontext():
            wall, summary = self.job.run_once(i)
        peak = self.sampler.stop()
        cpu = procstat.tree_cpu_s(self.jvm) - cpu0
        self.check(summary, self.job.url_hashes)
        self.failed += self._task_failures(group)
        docs = summary["n"]
        return {
            "wall_s": wall,
            "docs": docs,
            "docs_per_sec": docs / wall,
            "cpu_s_per_kdoc": 1000 * cpu / docs,
            "worker_peak_rss_mb": peak,
        }

    def warm_up(self) -> list[float]:
        """docs/s of each untimed run."""
        rates = []
        end = time.perf_counter() + WARMUP_S
        while time.perf_counter() < end or len(rates) < 2:
            rates.append(self.run()["docs_per_sec"])
        return rates


def _report_line(name: str, unit: str, values: list[float]) -> str:
    return (
        f"  {name:<24} {statistics.median(values):>12.4f} {unit:<8} "
        f"(median of {len(values)}; min {min(values):.4f}, max {max(values):.4f})"
    )


def timed(runner: Runner, seconds: float) -> tuple[dict, list[str]]:
    warm = runner.warm_up()
    samples = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(samples) < MIN_SAMPLES:
        samples.append(runner.run())
    units = {"docs_per_sec": "docs/s", "cpu_s_per_kdoc": "s/kdoc", "worker_peak_rss_mb": "MB"}
    metrics = {k: (statistics.median(s[k] for s in samples), u) for k, u in units.items()}
    lines = [_report_line(k, u, [s[k] for s in samples]) for k, u in units.items()]
    lines.append(_report_line("wall_s", "s", [s["wall_s"] for s in samples]))
    lines.append(
        "  docs/s by run: " + " ".join(f"{s['docs_per_sec']:.0f}" for s in samples)
        + " (untimed warm-up: " + " ".join(f"{d:.0f}" for d in warm) + ")"
    )
    return metrics, lines


def _job_main_layer(runner: Runner, tracer: Tracer, work: str) -> dict:
    """One ``job.main`` run over the corpus, its phases spanned; returns
    facts of the output it wrote."""
    job = jobs.JobMain(runner.spark, runner.corpus, work)
    with ExitStack() as stack:
        for patch in layers.job_patches(tracer):
            stack.enter_context(patch)
        with tracer.span("job.main"):
            result, summary = job.run_once(0)
        runner.check(summary, job.url_hashes)
    facts = {
        "heavy_hosts": len(result["heavy_hosts"]),
        "output_bytes": job.output_bytes(),
        "partition_skew": job.partition_skew(),
    }
    job.cleanup()
    return facts


def traced(runner: Runner, workload: str, seconds: float, work: str, run_id: str) -> tuple[dict, list[str]]:
    spark, job, corpus = runner.spark, runner.job, runner.corpus
    tracer = Tracer(workload, run_id)
    runner.warm_up()

    # the timed job, one span per run
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or len(tracer.durations("pipeline.run_extraction")) < MIN_SAMPLES:
        runner.run(tracer)

    for _ in range(LAYER_REPEATS):
        with tracer.span("scan.input"):
            layers.scan_input(spark, workload, corpus)
        with tracer.span("arrow.identity"):
            layers.arrow_identity(job.pages())
        if workload == "warc_mixed":
            with tracer.span("warc.read"):
                jobs.noop(job.pages())
    job_facts = _job_main_layer(runner, tracer, work)
    replay = layers.python_replay(tracer, workload, corpus)
    expected_routes = layers.expected_routes(corpus, replay["urls"])
    runner.attempted += len(replay["urls"])
    if replay["routes"] != expected_routes or replay["records"] != len(replay["urls"]):
        runner.failed += max(1, sum(abs(replay["routes"][r] - expected_routes[r]) for r in gen.ROUTES))
        runner.route_errors.append(replay["routes"])

    spans = tracer.layers()
    counts = tracer.counts

    def median_span(name: str) -> float:
        return statistics.median(tracer.durations(name))

    def self_s(name: str) -> float:
        return spans.get(name, {}).get("self_s", 0.0)

    run_extraction_s = median_span("pipeline.run_extraction")
    identity_s = median_span("arrow.identity")
    m: dict[str, tuple[float, str]] = {
        "scan.input_s": (median_span("scan.input"), "s"),
        "scan.input_bytes": (corpus.meta["input_bytes"], "B"),
        "arrow.identity_s": (identity_s, "s"),
        "pipeline.run_extraction_s": (run_extraction_s, "s"),
        "pipeline.python_share": (1 - identity_s / run_extraction_s, "ratio"),
    }
    for route in gen.ROUTES:
        m[f"pipeline.route.{route}"] = (replay["routes"][route], "count")
    m["pipeline.stage_self_s"] = (self_s("pipeline.stage"), "s")
    m["pipeline.records_frame_s"] = (self_s("pipeline.records_frame") + self_s("pipeline.arrow_out"), "s")
    for layer, extra in (
        ("html_extract.main_text", ("bytes",)),
        ("fields.extract_spans", ("spans",)),
        ("rollup.combine_page_results", ()),
        ("pdf.extract_pdf_pages", ("pages",)),
        ("normalize.preprocess_text", ()),
        ("engines.process_page", ("words",)),
    ):
        m[f"{layer}.calls"] = (counts[f"{layer}.calls"], "count")
        m[f"{layer}.s"] = (self_s(layer), "s")
        for name in extra:
            m[f"{layer}.{name}"] = (counts[f"{layer}.{name}"], "B" if name == "bytes" else "count")
    m["pdf.is_scanned.true"] = (counts["pdf.is_scanned.true"], "count")
    m["warc.records"] = (counts["warc.records"], "count")
    for name in ("job.main", "job.validate", "job.layout", "job.checkpoint_write", "job.metrics"):
        m[f"{name}_s"] = (spans[name]["total_s"], "s")
    m["job.heavy_hosts"] = (job_facts["heavy_hosts"], "count")
    m["job.output_bytes"] = (job_facts["output_bytes"], "B")
    m["job.output_bytes_per_doc"] = (job_facts["output_bytes"] / corpus.n_urls, "B/doc")
    m["job.partition_skew"] = (job_facts["partition_skew"], "ratio")
    for code in layers.ERROR_CODES:
        m[f"errors.class.{code}"] = (replay["errors"][code], "count")
    m["jvm.peak_rss_mb"] = (procstat.peak_rss_mb(runner.jvm), "MB")
    m["trace.overhead_share"] = (replay["overhead_share"], "ratio")

    trace_dir = os.path.join(work, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"{run_id}.jsonl.gz")
    tracer.write(trace_path)

    wall = tracer.traced_wall_s()
    lines = [f"  layer self times (share of {wall:.2f} s traced wall; {len(tracer.spans)} spans -> {trace_path})"]
    for name, row in sorted(spans.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(
            f"  {name:<30} spans {row['spans']:>6}  total {row['total_s']:>9.4f} s  "
            f"self {row['self_s']:>9.4f} s  {100 * row['self_s'] / wall:>6.2f}%"
        )
    if workload == "warc_mixed":
        # WARC layers exist on this workload only: printed, not in the metric set
        lines.append(f"  {'warc.read_s':<30} {median_span('warc.read'):.4f} s")
        lines.append(f"  {'warc.gunzip_s':<30} {spans['warc.gunzip']['total_s']:.4f} s")
        lines.append(f"  {'warc.parse_s':<30} {spans['warc.parse']['total_s']:.4f} s")
    lines.append(
        f"  Python-side layers: the fused stage over {len(replay['urls'])} rows, one core; "
        f"traced {replay['traced_s']:.4f} s vs untraced {replay['untraced_s']:.4f} s "
        f"(trace.overhead_share)"
    )
    lines.append("  per-layer metrics:")
    lines += [f"  {k:<36} {v:>14.6g} {u}" for k, (v, u) in m.items()]
    return m, lines


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--width", type=int, required=True)
    args = p.parse_args()

    spark = get_spark(app_name="perfbench", master=f"local[{args.width}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        warm_pool(spark, args.width)
        print("READY", flush=True)

        corpus, generated = gen.load_or_generate(spark, args.work, args.workload, args.seed)
        one_file_per_split(
            spark, corpus.warc_dir if args.workload == "warc_mixed" else corpus.pages_dir
        )
        runner = Runner(spark, jobs.ExtractionJob(spark, args.workload, corpus), corpus, args.width)
        if args.trace:
            run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
            metrics, lines = traced(runner, args.workload, args.seconds, args.work, run_id)
        else:
            metrics, lines = timed(runner, args.seconds)

        meta = corpus.meta
        print(
            f"  input: {meta['n_urls']} urls, {meta['input_bytes']} B on disk, routes {meta['routes']}, "
            f"params {meta['params']}; generation {meta['gen_s']:.2f} s "
            f"({'this run' if generated else 'cached'}, not in setup_s)"
        )
        print(
            f"  failed_share {runner.failed / runner.attempted:.6f} "
            f"({runner.failed} of {runner.attempted} url checks over {runner.runs} runs)"
            + (f"; route count errors {runner.route_errors}" if runner.route_errors else "")
        )
        for line in lines:
            print(line)
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print("RESULT " + json.dumps(result), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
