"""SparkSession factory with scale-oriented defaults.

The reference engine's only tuning surface was ``-p``/``-c`` thread
counts (mapreduce.c:277-286); here the equivalents are
``spark.sql.shuffle.partitions`` plus AQE, which re-plans partition
counts / skew joins at runtime — the knob the reference could never
turn mid-job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(app_name: str = "mapreduce-in-pthreads-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - ``local[N]`` here; on a real cluster the same conf applies, only
      master/executor sizing changes.
    - AQE on: runtime coalescing + skew-join splitting means the static
      ``shuffle.partitions`` value only needs to be an upper bound.
    - Arrow on: any pandas-UDF path moves columnar batches, not rows.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle (which reads parquet timestamps as naive UTC).
    """
    cpus = cpus or default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # r10 (guide §3.1/§9): let the planner pick shuffled-hash join
        # when its size conditions hold instead of always sort-merge —
        # skips both sides' sorts. Measured at sf0.1:
        # burrows_delta_stylometry −28%, prefix_filter_jaccard_join
        # −29%, dbscan_grid_core −10%; join RESULTS are
        # algorithm-independent (vanilla-session oracle parity holds
        # either way). Spark still falls back to SMJ whenever the
        # build side fails canBuildLocalHashMap / muchSmaller, so
        # genuinely-large fact⋈fact merges keep their spill-safe path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
