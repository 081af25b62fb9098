"""The timed job of each workload, and ``job.main`` as a traced layer.

- ``crawl_mix``: ``run_extraction`` over the pages parquet -> ``noop``.
- ``warc_mixed``: ``read_warc`` -> ``run_extraction`` -> ``noop``.

The timed write carries the oracle's summary columns
(``DataFrame.observe``), so every run is checked without a second pass.
``JobMain`` runs the spark-submit entrypoint over a workload's pages
table into fresh dirs and checks the output it wrote.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import Observation

from medical_and_charity_document_extraction_system_spark import job as job_module
from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.sources.warc import read_warc

from . import oracle
from .gen import Corpus, dir_bytes

JOB_BUCKETS = 4
JOB_PARTITIONS = 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ExtractionJob:
    def __init__(self, spark, workload: str, corpus: Corpus) -> None:
        self.spark = spark
        self.workload = workload
        self.corpus = corpus

    def pages(self):
        if self.workload == "warc_mixed":
            return read_warc(self.spark, self.corpus.warc_dir)
        return self.spark.read.parquet(self.corpus.pages_dir)

    def run_once(self, i: int) -> tuple[float, dict]:
        """One timed job: (wall seconds, oracle summary of its output)."""
        obs = Observation(f"check_{i}")
        t0 = time.perf_counter()
        noop(run_extraction(self.pages()).observe(obs, *oracle.summary_columns()))
        wall = time.perf_counter() - t0
        return wall, oracle.normalize(obs.get)

    def url_hashes(self) -> list[tuple[str, int]]:
        return oracle.url_hashes(run_extraction(self.pages()))


class JobMain:
    """``job.main`` over the corpus's pages parquet: salted repartition,
    checkpointed ``partitionBy(part_id)`` write, manifest, metrics."""

    def __init__(self, spark, corpus: Corpus, work: str) -> None:
        self.spark = spark
        self.corpus = corpus
        self.root = os.path.join(work, "job_main")
        self.dirs: dict[str, str] = {}

    def run_once(self, i: int) -> tuple[dict, dict]:
        """(job.main's result, oracle summary of the output it wrote)."""
        self.cleanup()
        self.dirs = {k: os.path.join(self.root, k) for k in ("output", "metrics", "manifest")}
        result = job_module.main(
            [
                "--input", self.corpus.pages_dir,
                "--output", self.dirs["output"],
                "--metrics", self.dirs["metrics"],
                "--manifest", self.dirs["manifest"],
                "--run-id", f"perfbench{i}",
                "--buckets", str(JOB_BUCKETS),
                "--partitions", str(JOB_PARTITIONS),
            ],
            spark=self.spark,
        )
        out = self.spark.read.parquet(self.dirs["output"])
        return result, oracle.normalize(out.agg(*oracle.summary_columns()).first().asDict())

    def url_hashes(self) -> list[tuple[str, int]]:
        return oracle.url_hashes(self.spark.read.parquet(self.dirs["output"]))

    def output_bytes(self) -> int:
        return dir_bytes(self.dirs["output"])

    def partition_skew(self) -> float:
        """max / median ``docs_in`` of the partition_metrics table the
        last run wrote."""
        rows = self.spark.read.parquet(self.dirs["metrics"]).select("docs_in").collect()
        docs = [r[0] for r in rows]
        return max(docs) / statistics.median(docs)

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
