"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions
sized to cores (local) — on a 1000-executor cluster this would be
set to ~2-3x total cores or left to AQE coalescing, Arrow enabled for
the pandas-UDF kernels, UTC session timezone so results compare
stably against external oracles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "prohap-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing targets shuffle BYTES and is blind to
        # downstream per-row cost: it can fold the ProHap kernel's input
        # (thousands of rows, tiny compressed ACGT shuffles) into ONE
        # partition and serialize the Arrow/Python stage behind a single
        # task. The lower floor keeps small-byte/expensive-row stages
        # wide (tests/test_plans.py pins the kernel's partition spread);
        # large shuffles are unaffected. Without it (4 vCPU, seed 8):
        # provar_sites first_run_s 13.9 -> 17.4 s, peptide_report
        # jvm_peak_rss_mb 1135 -> 1232 MB; prohap_cohort run_s 7.4 -> 6.9 s.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Whole-stage-codegen CLASS cache (static, JVM-wide, default 100
        # entries). Warm runs of a pipeline re-plan the same stages; once
        # the distinct generated classes exceed the cache, eviction
        # forces a Janino recompile of every stage on every run. Without
        # it (4 vCPU, seeds 7 and 8): prohap_cohort run_s 6.00 -> 7.42 s
        # and 5.54 -> 8.02 s.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate re-derives size(e) > 0 below every
        # generator and substitutes the whole generator expression into
        # it, so computed arrays — the interval join's sequence(...) bins,
        # the split(...) lists of the multiallelic split, the stop-codon
        # fragment split and the peptide ;-lists — are built twice per
        # row; those arrays are never empty. With the rule (4 vCPU,
        # seeds 7 and 8):
        # peptide_report run_s 4.14 -> 4.47 s and 3.50 -> 3.70 s,
        # prohap_cohort 6.27 -> 6.67 s and 5.49 -> 8.68 s.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
