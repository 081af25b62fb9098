"""SparkSession builder with the engine's standard physical knobs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import DEFAULT_CONFIG, ExtractionConfig, spark_conf_overrides

PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cpus() -> str:
    """local[] width: ``SPARK_GRAFT_CPUS`` when set, else the number of
    CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "extraction-engine",
    master: str | None = None,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_cpus()
    # local mode: the driver IS the executor — size the heap for the
    # task width, not for a thin coordinator. 8g with 32 task threads
    # left every post-warmup query GC-bound (measured 3-5x slowdowns
    # on the bench catalog; 57s -> 22s total at 32g+). ~1g per task
    # thread, floor 8g, so smaller hosts don't over-commit.
    try:
        default_mem = f"{max(8, int(cpus))}g"
    except ValueError:  # local[*] etc.
        default_mem = "8g"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_mem))
        .config("spark.ui.enabled", "false")
        # Python workers import this package by name: put its parent
        # directory (or its --py-files zip) on their path, so a driver
        # started from any directory needs no PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            p for p in (PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
        ))
        # the worker daemon keeps zip directories cached: stock workers
        # re-read pyspark.zip's directory ~16 times per task before
        # Python 3.13 (worker_daemon.py). It rides with the PYTHONPATH
        # above, which is what makes it importable when the daemon
        # starts; job.main under spark-submit keeps the stock daemon
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    )
    for k, v in spark_conf_overrides(cfg).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
