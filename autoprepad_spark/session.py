"""SparkSession factory with scale-oriented defaults.

Local mode stands in for the multi-executor cluster; every config here is
also what we would ship in spark-defaults on a 1000-executor cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow enabled (vectorized pandas-UDF path), shuffle partitions sized to
the parallelism level rather than the 200 default.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import zipimport

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

#: bounds of the default driver heap, in MB
_HEAP_MIN_MB, _HEAP_MAX_MB = 1024, 16 * 1024

#: the local file system that sets permissions without a child process
NIO_LOCAL_FS = "autoprepad_spark.jvm.NioLocalFileSystem"
#: the same for Hadoop's FileContext API (streaming checkpoint logs)
NIO_LOCAL_AFS = NIO_LOCAL_FS + "$Fs"
_NIO_LOCAL_FS_SRC = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)


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


def _hadoop_api_jars() -> list[str]:
    """The Hadoop client API jars of the Spark install PySpark launches."""
    import pyspark

    for home in (os.environ.get("SPARK_HOME"), os.path.dirname(pyspark.__file__)):
        jars = sorted(glob.glob(os.path.join(home or "", "jars", "hadoop-client-api-*.jar")))
        if home and jars:
            return jars
    return []


def nio_local_fs_classpath() -> str | None:
    """Class directory of ``jvm/NioLocalFileSystem.java``, compiled once.

    Without the native Hadoop library, Hadoop's local file system sets
    the mode of every file it creates and every directory it makes by
    running ``chmod`` in a child process: each parquet part file, its
    .crc sidecar and each task attempt directory fork the JVM (~60 times
    per suite call over a 32-partition table), and so does each file of
    a streaming checkpoint commit, written through Hadoop's FileContext
    API (6 per trigger: a file and a .crc each for the source, offset
    and commit logs). The Java classes, one per API, set the same bits
    through java.nio instead. They are compiled with ``javac`` into the
    temp directory, keyed on their source, javac and the Hadoop jars, so
    a later session reuses them; returns None when there is no javac or
    no Hadoop jar, or the compile fails (the session then keeps Hadoop's
    own local file systems)."""
    javac = shutil.which("javac")
    jars = _hadoop_api_jars()
    if javac is None or not jars:
        return None
    with open(_NIO_LOCAL_FS_SRC, "rb") as f:
        key = hashlib.sha256(f.read())
    key.update("\0".join([os.path.realpath(javac), *jars]).encode())
    out = os.path.join(tempfile.gettempdir(), f"autoprepad_spark-jvm-{key.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    build = tempfile.mkdtemp(prefix="autoprepad_spark-jvm-build-")
    try:
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-d", build,
             "-cp", os.pathsep.join(jars), _NIO_LOCAL_FS_SRC],
            check=True, capture_output=True, timeout=300,
        )
        os.rename(build, out)  # atomic: a concurrent session sees all or nothing
    except (OSError, subprocess.SubprocessError):
        shutil.rmtree(build, ignore_errors=True)
    return out if os.path.isdir(out) else None


def _keep_zip_directories(_self) -> None:
    """``zipimporter.invalidate_caches`` for a process whose archives
    never change: keep the cached central directory."""


def freeze_worker_zip_caches() -> bool:
    """Stop a Spark Python worker re-reading every zip directory per task.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). On CPython < 3.13
    that makes each ``zipimporter`` on the path re-read its archive's
    whole central directory in pure Python: pyspark.zip once per
    sub-package prefix, the py4j zip and the spark-core jar, 110-380 ms
    per task on a 4-core host whatever the task's row count. The
    archives on a worker's path never change during its life, so the
    re-read is dropped; directory finders are still invalidated, and an
    archive shipped later (``addPyFile``) is a new path entry with a
    fresh importer, so new files stay importable. Python 3.13 only drops
    the cache, and the driver is never patched.

    Called on package import; returns whether the patch is in place."""
    if sys.version_info >= (3, 13):
        return False
    from pyspark.core.files import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return False
    zipimport.zipimporter.invalidate_caches = _keep_zip_directories
    return True


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

    # The file-system class goes on the classpath of the JVM this call
    # launches, so only a local master on a JVM not yet started gets it
    # (executors of local-cluster[...] share the host, hence the executor
    # classpath too). extra_conf can name another spark.hadoop.fs.file.impl
    # or spark.hadoop.fs.AbstractFileSystem.file.impl.
    local = master is None or master.startswith("local")
    fs_conf = {}
    if local and not under_submit and SparkContext._gateway is None:
        classes = nio_local_fs_classpath()
        if classes is not None:
            fs_conf = {
                "spark.driver.extraClassPath": classes,
                "spark.executor.extraClassPath": classes,
                "spark.hadoop.fs.file.impl": NIO_LOCAL_FS,
                "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_LOCAL_AFS,
            }

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
        # PySpark 4's DataFrame debugging captures the Python call site
        # (inspect.stack() plus py4j set/clear calls) on every Column op:
        # a streaming validate batch's plan took ~1,940 py4j round trips
        # to build with it and ~790 without. Errors keep their class
        # and message without it; pass
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
        # "true"} to get the call-site fragment back.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark keeps 100 compiled classes by default. One dedup stream
        # trigger plans ~130 distinct classes, so that cache evicts ~80
        # of them before the next trigger asks for them again, and each
        # warm 4-row trigger spent ~0.5-1 s recompiling them
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # files.maxPartitionBytes default 128m is right for the 100TB target;
        # keep it explicit so the intent is visible.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in fs_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        if k.endswith("extraClassPath") and k in fs_conf:
            v = os.pathsep.join([fs_conf[k], v])  # keep the file system loadable
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_ONE_SLICE: SparkSession | None = None
_ONE_SLICE_LOCK = threading.Lock()


def _one_slice_session(spark: SparkSession) -> SparkSession:
    """A clone of ``spark`` (its SQL conf, temporary views and functions)
    whose leaf nodes run as ONE partition, made once per SparkContext:
    a streaming query hands each micro-batch a session of its own, and a
    clone per session would be one more session per trigger."""
    global _ONE_SLICE
    with _ONE_SLICE_LOCK:
        if _ONE_SLICE is None or _ONE_SLICE.sparkContext is not spark.sparkContext:
            one = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
            one.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
            _ONE_SLICE = one
        return _ONE_SLICE


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """A small driver-side table as a one-partition DataFrame built in
    the JVM.

    ``createDataFrame`` over a Python list scans a Python RDD, so even a
    one-row write starts a Python worker task. A pandas frame goes over
    Arrow into a local relation instead (below
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
    default): collecting it, or a projection of it, runs no job. Arrow
    skips empty frames, so an empty one becomes an empty typed
    projection.

    A local relation is scanned in as many tasks as it has rows, up to
    the session's leaf parallelism, so writing 8 rows wrote up to 8
    files. ``repartition``/``coalesce`` would make collecting it a job,
    so the frame is planned instead in a clone, made from the first
    session that asked (conf set later is not seen), whose leaf
    parallelism is 1: written on its own it is one task and one file.
    Union or join it INTO a frame of ``spark``
    (``big.unionByName(local)``), not the other way round: a plan is
    made in the session of its outermost frame, and in the clone a file
    scan would plan as few splits as a leaf parallelism of 1 allows."""
    one = _one_slice_session(spark)
    if len(pdf):
        return one.createDataFrame(pdf, schema=schema)
    return one.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
