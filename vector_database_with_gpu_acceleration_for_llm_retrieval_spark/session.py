"""SparkSession factory tuned for this engine.

Local mode is the test bed; the config is written so the same session
settings hold on a real cluster: AQE on (runtime re-plan, skew-join
handling, partition coalescing), Arrow on (fast pandas UDF transfer),
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """32g, capped at half the host's physical memory: a heap cap above
    what the host has lets the heap grow until the host, not the JVM,
    gives out."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    return f"{min(32 * 1024, half_mb)}m"


def get_spark(app_name: str = "vdb_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract);
    defaults to ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's events.parquet stores TIMESTAMP(NANOS) which Spark
        # rejects by default; read it as a long (ns since epoch) and let
        # the catalog derive a microsecond timestamp column (catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Python workers import this package (UDFs, mapInPandas) whatever
        # the working directory; Spark merges this with the inherited
        # PYTHONPATH.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # long-session hygiene (r8): even with the UI off, the
        # AppStatusListener retains 1000 jobs/stages and 100k tasks, and
        # whole-stage codegen fills the JVM code cache with one class
        # per unique plan — after ~3k stages both inflate late-session
        # timings (measured ~2.5x on the bench shape probes). Keep the
        # status store small and give JIT-compiled code room.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
        .config("spark.sql.ui.retainedExecutions", "50")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # local mode: the driver JVM hosts all 32 executor threads' shuffle
        # blocks, broadcasts, and cached frames at once. 8g thrashes GC on
        # the full bench (measured: total 23.5 s -> 13.5 s with a larger
        # heap); on a real cluster this knob moves to executor.memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
