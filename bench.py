"""Headline benchmark. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Env:
    SPARK_GRAFT_SF_DIR  input scale dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[] width (default: the CPUs this process
                        may run on)
    BENCH_REPEAT        corpus amplification for the extraction query
                        (default 40 -> 200k pages at sf0.1)
    BENCH_CORPUS_DIR    where the amplified pages parquet lives
                        (default $TMPDIR/bench_pages_<sf>_<repeat>; reused
                        across runs so the local[N] and local[4N]
                        legs of scripts/scaling_bench.py time the same
                        bytes)
    BENCH_EXTRACTION_ONLY  set to 1 to time only the headline
                        extraction query (the scaling-efficiency legs
                        alternate N/4N runs and don't need the
                        catalog suite re-timed per leg)

The headline metric is end-to-end extraction documents/sec
(BASELINE.json). The pages corpus is materialized to parquet first
(untimed — it is test scaffolding, not the engine) and read back
through the normal scan path.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

import __spark_entry__ as entry_mod
from medical_and_charity_document_extraction_system_spark.plans import run_extraction
from medical_and_charity_document_extraction_system_spark.session import (
    default_cpus,
    get_spark,
)
from medical_and_charity_document_extraction_system_spark.sources import synthesize_pages

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(default_cpus())
REPEAT = int(os.environ.get("BENCH_REPEAT", "40"))
SF = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
CORPUS = os.environ.get(
    "BENCH_CORPUS_DIR",
    os.path.join(tempfile.gettempdir(), f"bench_pages_sf{SF}_x{REPEAT}"),
)

# the non-extraction headline queries: the catalog rows flagged for bench
CATALOG_QUERIES = [e.name for e in entry_mod.CATALOG if e.bench]


# split count for the timed scan: fixed so every local[] width reads
# identical splits; ~4 waves at 32 cores keeps the tail balanced.
TARGET_SPLITS = 128


def ensure_corpus(spark) -> None:
    marker = os.path.join(CORPUS, "_SUCCESS")
    if not os.path.exists(marker):
        synthesize_pages(spark, SF_DIR, repeat=REPEAT, partitions=TARGET_SPLITS).write.mode(
            "overwrite"
        ).parquet(CORPUS)


def _corpus_bytes() -> int:
    return sum(
        os.path.getsize(os.path.join(CORPUS, f))
        for f in os.listdir(CORPUS)
        if f.endswith(".parquet")
    )


def main() -> None:
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_corpus(spark)

    # size input splits to the corpus so the scan actually fans out —
    # the default 128 MB maxPartitionBytes collapses a small corpus
    # into a handful of splits (the 100-TB analog is picking
    # maxPartitionBytes so splits >> executor slots)
    split_bytes = max(_corpus_bytes() // TARGET_SPLITS, 64 << 10)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")

    timings: dict[str, float] = {}

    pages = spark.read.parquet(CORPUS)
    # steady-state warmup (untimed): forks + imports every Python
    # worker, compiles codegen + JIT, faults the page cache — the same
    # work a long-running cluster job amortizes over hours
    run_extraction(pages).count()

    # best-of-2 timed runs: single runs straight after warmup still
    # carry JIT tail and scheduler jitter; the min is the steady-state
    # throughput a long-running job sustains
    best = None
    for _ in range(2):
        t0 = time.time()
        n_docs = run_extraction(pages).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    timings["extraction_e2e"] = round(best, 3)
    docs_per_sec = round(n_docs / timings["extraction_e2e"], 1)

    if os.environ.get("BENCH_EXTRACTION_ONLY") == "1":
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_sec",
                    "value": timings["extraction_e2e"],
                    "unit": "sec",
                    "queries": timings,
                    "sf": float(SF),
                    "docs_per_sec": docs_per_sec,
                    "extraction_docs": n_docs,
                    "cpus": CPUS,
                }
            )
        )
        spark.stop()
        return

    # WARC egress->ingress round-trip (the crawl-native container
    # path): write the corpus as real .warc.gz from the executors,
    # read it back one-file-per-task, and run the same extraction —
    # the ingestion/egress throughput row VERDICT r4 asked for. The
    # record count must match the parquet-fed run (container-faithful)
    import shutil

    from medical_and_charity_document_extraction_system_spark.sources.warc import (
        pages_to_warc_files,
        read_warc,
    )

    warc_dir = os.path.join(CORPUS + "_warc")

    def warc_roundtrip() -> int:
        shutil.rmtree(warc_dir, ignore_errors=True)
        pages_to_warc_files(pages, warc_dir, n_files=TARGET_SPLITS)
        return run_extraction(read_warc(spark, warc_dir)).count()

    n_warc = warc_roundtrip()  # untimed warmup
    assert n_warc == n_docs, f"warc roundtrip lost rows: {n_warc} != {n_docs}"
    best_w = None
    for _ in range(2):
        t0 = time.time()
        warc_roundtrip()
        dt = time.time() - t0
        best_w = dt if best_w is None else min(best_w, dt)
    timings["warc_roundtrip"] = round(best_w, 3)
    shutil.rmtree(warc_dir, ignore_errors=True)

    qs = entry_mod.queries()
    for name in CATALOG_QUERIES:
        # one untimed warmup per query, then best-of-2. The UDF-heavy
        # queries (minhash) fork/warm the full Python worker pool on
        # first touch — ~9s once at local[32] — which best-of-2 alone
        # recorded as if it were throughput (r01 logged minhash at
        # 5.6s vs its 1.9s steady state). A long-running cluster job
        # amortizes worker start over hours; the headline metric is
        # sustained docs/sec, so warm first, then time.
        qs[name](spark, SF_DIR).count()
        best_q = None
        for _ in range(2):
            # the session-scoped BPE merge cache memoizes driver-side
            # training across catalog queries; a timed run must pay the
            # REAL end-to-end cost, not a cache hit from its own warmup
            entry_mod._BPE_CACHE.clear()
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            dt = time.time() - t0
            best_q = dt if best_q is None else min(best_q, dt)
        timings[name] = round(best_q, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(SF),
                "docs_per_sec": docs_per_sec,
                "extraction_docs": n_docs,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
