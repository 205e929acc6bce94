"""SparkSession factory.

Single place where execution-relevant config lives so that tests, bench
and the driver entry all run with the same tuned session.  The settings
are chosen for a large cluster but validated on ``local[N]``:

* AQE on (runtime coalescing, skew-join splitting) — replaces the
  reference's hand-tuned ``NumPartitions``/worker sizing formula
  (reference README.md:103-110).
* ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster this is overridden (AQE coalesces down anyway).
* Session timezone pinned to UTC — the reference stamps
  ``migration_tp_utc`` in UTC (sybaseiq_extractor.py:42) and the DuckDB
  oracle compares timestamps as UTC-naive.
* Arrow enabled for the Pandas-UDF slow path.
* Shuffle/broadcast blocks compressed with lz4 (a constant, measured
  against zstd in OPTIMIZATION_r12.md); parquet data files with snappy.
* Driver heap sized to the host (``default_driver_memory``) unless
  ``SPARK_DRIVER_MEMORY`` sets it.
* File listing stays on the driver (``SERIAL_LISTING_PATHS``): a read
  of an explicit path list — every lakehouse read, planned from the
  commit log — builds its file index without starting a Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g, at least 1g: a
    fixed 48g let one long-lived session's heap grow past a 15 GB
    host's memory before G1 collected, and the kernel killed the JVM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys // 2 // 2**30))}g"


#: ``spark.sql.sources.parallelPartitionDiscovery.threshold``: above
#: this many root paths Spark lists them in a parallel job (one task
#: per path) instead of on the driver.  Spark's default of 32 suits
#: object stores, where each listing call waits on the network; on a
#: local or mounted file system the job's per-task cost dwarfs the
#: call.  An explicit-path ``spark.read.schema(s).option("basePath",
#: b).parquet(*paths)`` on ``local[2]`` (4-core host, C1-only JVM)
#: took, serial vs parallel: 0.03 vs 0.36 s at 33 paths, 0.27 vs 7.6 s
#: at 1,000 and 1.9 vs 73 s at 10,000.  Serial won by 10-40x at every
#: size, so the cutoff sits far above any path list this engine plans.
SERIAL_LISTING_PATHS = 1_000_000


def get_spark(
    app_name: str = "sybaseiq-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffle/broadcast codec: lz4.  zstd's CPU cost per block
        # dominates at sub-MB shuffle sizes; it regressed the sf0.1
        # bench headline 25% when shipped unconditionally, and the
        # measured A/B chose lz4 (OPTIMIZATION_r12.md).  Parquet file
        # codec stays snappy — data file bytes are committed artifacts.
        .config("spark.io.compression.codec", "lz4")
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
        # deliberately LEFT AT ITS false DEFAULT (r12, measured twice):
        # true lets AQE coalesce a persisted frame's output to 1-2
        # partitions, starving every downstream consumer of the cache
        # of parallelism — fresh-session A/B on persist-heavy entries
        # at sf0.1: mm_video 2.29 -> 3.24 s, sketch_hll 1.15 -> 1.56,
        # streaming_hll 2.79 -> 3.62 under the true setting.  The sf10
        # case it would have helped (AQE under the ordered-scan input
        # pin) is moot because the "double execution" it was paired
        # with reuses shuffle outputs across passes anyway — see
        # OPTIMIZATION_r12.md change 3 for the full evidence chain.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(SERIAL_LISTING_PATHS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
