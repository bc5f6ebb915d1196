"""SparkSession factory with scale-oriented defaults.

The reference hand-tunes partitioning (repartition to 4x cores,
spikes/cbs-pipeline/common/fn_lake.scala:32-34). We instead lean on AQE
(adaptive coalescing + skew-join splitting) and keep explicit repartitioning
only where a write layout requires it (SURVEY.md section 4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "dex-hl7-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the CDC apply workload.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. On a real cluster this is spark-submit's job; every config
    here is also valid under YARN/K8s.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(cpus)
        except ValueError:
            n = os.cpu_count() or 8
        # 2x cores: AQE coalesces down; avoids tiny-partition overhead locally
        # while still giving the scheduler slack.  On a 1000-executor cluster
        # this is set to ~2-3x total cores via spark-submit conf instead.
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting replaces the
        # reference's fixed "4x cores" repartition heuristic.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the final stage of a cached plan too. The apply
        # persists its deduped change frame, and without this Spark keeps
        # a cached plan at spark.sql.shuffle.partitions partitions, so the
        # merge write runs that many tasks for any epoch size, each paying
        # ~30 ms of task set-up for a few hundred rows or none. Nothing
        # here relies on a cache's partitioning: the bucketed writes sort
        # by __bucket within each task and need no exchange after it.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow for every pandas UDF / toPandas hop (input_hint: vectorized
        # pandas/Arrow UDFs only, no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamp parsing for byte-stable goldens (the
        # reference pins LEGACY at latest_flag_and_sequencing.scala:40; we pin
        # CORRECTED, the non-legacy deterministic policy).
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MB split target: on 100 TB inputs this yields ~800k input
        # partitions, the right granularity for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
