"""SparkSession factory with scale-oriented defaults.

Local mode stands in for the multi-executor cluster; every config here is
also what we would ship in spark-defaults on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow enabled (vectorized pandas-UDF path), shuffle partitions sized to
the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

#: bounds of the default driver heap, in MB
_HEAP_MIN_MB, _HEAP_MAX_MB = 1024, 16 * 1024


def default_driver_mem() -> str:
    """Half of the host's MemAvailable, within [1 GB, 16 GB].

    In local mode the driver heap holds every executor's work, and the
    JVM's resident size runs well past its heap (metaspace, code cache,
    Arrow and netty buffers), so a fixed 16g on a ~15 GB host let the
    kernel OOM-kill the JVM mid-suite. Halving what is available leaves
    room for that overhead and for the Python workers. Falls back to
    the upper bound where /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return f"{_HEAP_MAX_MB}m"
    return f"{max(_HEAP_MIN_MB, min(_HEAP_MAX_MB, kb // 2048))}m"


def get_spark(
    app_name: str = "autoprepad_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[N] thread count; default $SPARK_GRAFT_CPUS or all cores.
    shuffle_partitions: defaults to max(2*cores, 32) — on a real cluster
    this would be ~2-3x total executor cores so AQE can coalesce down.
    master: override the master URL (e.g. ``local-cluster[8,1,8192]`` for
    the cross-JVM scaling probes — separate executor JVMs = separate
    heaps/allocation domains, the closest sandbox analog of a real
    multi-executor cluster); ``cores`` should then be the TOTAL task
    cores so shuffle partitioning stays comparable.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    # Under spark-submit the JVM gateway is already up and the master
    # (e.g. yarn / k8s / a standalone cluster URL from --master) is fixed
    # by the launcher; hard-coding local[N] here would silently override
    # it. PythonRunner exports PYSPARK_GATEWAY_PORT into the driver
    # process, so its presence == "launched via spark-submit".
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not under_submit:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scalar-feed UDFs ship ~5 doubles/row, so bigger Arrow batches
        # (~2.5MB) amortize the per-batch python round-trip without
        # memory risk; deep UDFs that ship token arrays stay bounded by
        # maxBytesPerBatch semantics of the writer
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # committer v2: task outputs move to the final location at task
        # commit, removing the O(#files) serial rename in job commit — a
        # fixed driver-side cost that caps scaling of short write jobs
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(),
        )
        # G1 (the JDK17 default) collapses under 32 concurrent task threads
        # here (single aggs regress 10-30x from GC storms); throughput GC
        # restores linear behavior. On a cluster this is
        # spark.executor.extraJavaOptions. SPARK_JAVA_OPTS overrides for
        # GC experiments (bench/stage probes).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        # files.maxPartitionBytes default 128m is right for the 100TB target;
        # keep it explicit so the intent is visible.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """A small driver-side table as a DataFrame built in the JVM.

    ``createDataFrame`` over a Python list scans a Python RDD, so even a
    one-row write starts a Python worker task. A pandas frame goes over
    Arrow into a local relation instead; Arrow skips empty frames, so an
    empty one becomes an empty typed projection."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema=schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
