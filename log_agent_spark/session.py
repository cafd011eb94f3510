"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``); the same
builder settings are what we would ship on a 1000-executor cluster —
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
UTC session timezone (so results compare bit-for-bit with the DuckDB oracle),
Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB these would be set per-job (shuffle.partitions ≈ 2-3× total
# executor cores; maxPartitionBytes sized so a scan task fits in memory).
# Locally we match the core count so tiny benchmarks aren't dominated by
# task-scheduling overhead.
_LOCAL_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # LOCAL setting: the fixture parquet files are 0.3-11 MB, so the cluster
    # default (128 MB) puts each whole table in one scan task and leaves 31
    # cores idle. 4 MB splits engage all cores (2.5x on scan-bound queries).
    # On a real cluster at 100 TB keep 128 MB — inputs have thousands of
    # row-group-sized splits and per-task overhead dominates below that.
    "spark.sql.files.maxPartitionBytes": "4194304",
    "spark.sql.files.openCostInBytes": "1048576",
    # The agent's whole-file reads load explicit lists of local files that
    # the driver has just walked and stat-ed; past this many paths Spark
    # lists them again in a distributed job (~0.3-0.9 s of a live batch's
    # planning, against ms to list them on the driver). Never list in a job.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2147483647",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # Fixture parquet has isAdjustedToUTC=false timestamps; read them as
    # TIMESTAMP (session TZ = UTC) so epoch projections match the DuckDB
    # oracle's naive-UTC semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # events.parquet carries TIMESTAMP(NANOS) which the Spark vectorized
    # reader rejects; read nanos as LongType and convert at the source
    # (sources/tables.py) — lossless for the fixture's µs-precision data.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # StreamExecution.isInterruptionException matches py4j error text with a
    # `((.|\r\n|\r|\n)*)` regex that recurses per character; on a long stack
    # trace it overflows the default thread stack and kills the stream
    # execution thread. A deeper stack makes interrupt classification (and
    # deep Catalyst plan recursion generally) safe. JVM-launch-time option —
    # a no-op when attaching to an already-running session.
    "spark.driver.extraJavaOptions": "-Xss16m",
    # Python workers fork from the engine's daemon, which stops PySpark's
    # per-task importlib.invalidate_caches() from re-parsing pyspark.zip
    # (~125 ms CPU per Python task; see pyworker.py). Workers import this
    # package anyway to unpickle the engine's functions. Read when the
    # SparkContext starts, so a pre-existing session keeps the stock daemon.
    "spark.python.daemon.module": "log_agent_spark.pyworker",
}


def get_spark(app_name: str = "log_agent_spark", **overrides: str) -> SparkSession:
    """Return (building if needed) the shared SparkSession.

    ``overrides`` are extra ``spark.*`` config pairs applied on top of the
    scale-aware defaults. If a session already exists its immutable configs
    (e.g. driver memory) are left as-is — runtime SQL confs still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**_LOCAL_DEFAULTS, **overrides}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() of a pre-existing session ignores builder configs — make
    # sure the runtime SQL confs the engine depends on are applied anyway.
    for k, v in _LOCAL_DEFAULTS.items():
        if k.startswith("spark.sql."):
            spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark
