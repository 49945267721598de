"""SparkSession factory.

One place to pin the configs that matter for correctness (UTC session
timezone so DuckDB-oracle comparisons are stable) and for scale (AQE,
Arrow for pandas UDFs, shuffle partitions sized to cores instead of the
200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "telegram2elastic_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so the
    same code path serves tests, bench and the driver harness.  On a real
    cluster the caller passes master=None with spark-submit providing it.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    # local[N] -> N cores; size the shuffle to the parallelism, not 200.
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Correctness: oracle comparisons need UTC; ANSI off so that the
        # engine has SQL-standard-permissive arithmetic like the reference's
        # stores (and so hash/bit tricks match DuckDB's wrapping semantics).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Scale: adaptive execution re-plans shuffles at runtime, coalesces
        # small partitions and splits skewed ones (heavy-hitter terms).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UDF path: Arrow batches, never per-row pickling.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep scans prunable: respect parquet filters + column pruning.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Split small files finely enough that the scan/tokenize map side
        # actually fans out to every core.  The 128 MB default bin-packs a
        # few-MB-per-file corpus into ~4 read partitions and serializes the
        # build (measured: flat throughput from 8 to 32 cores).  At real
        # 100 TB scale files are row-grouped near 128 MB and these knobs
        # would be raised back via extra_conf.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "524288")
        .config("spark.ui.enabled", "false")
        # No [Stage ...] console bars: a job's stdout tail is its report.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
