"""Python-worker fixed cost (session.freeze_worker_zip_caches).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython < 3.13 that re-reads the central directory of every zip
on the worker's path (pyspark.zip per sub-package, py4j, the spark-core
jar), ~200 ms per task on a 4-core host. Importing the package inside a
worker makes that a no-op for archives. Pins: (1) a warm worker's task
spends < 20 ms in it; (2) files shipped with ``addPyFile`` after the
workers are warm — a plain module and a zip — still import; (3) the
driver is never patched, nor is any process on Python >= 3.13.
"""

from __future__ import annotations

import types
import uuid
import zipfile
import zipimport

import pyarrow as pa
from pyspark.core.files import SparkFiles
from pyspark.sql import functions as F, types as T

from autoprepad_spark import session as S


def _warm_workers(spark, tokens_df):
    from autoprepad_spark.operators.marking import mark_slim
    from autoprepad_spark.operators.profile import global_stats

    mark_slim(tokens_df, global_stats(tokens_df)).write.format("noop").mode(
        "overwrite").save()


def test_warm_worker_skips_zip_directory_reread(spark, tokens_df):
    _warm_workers(spark, tokens_df)

    out_t = T.StructType([
        T.StructField("ms", T.DoubleType()),
        T.StructField("zips", T.IntegerType()),
        T.StructField("frozen", T.BooleanType()),
    ])

    @F.arrow_udf(out_t)
    def probe(x: pa.Array) -> pa.Array:
        import importlib
        import sys
        import time
        import zipimport as zi

        import autoprepad_spark  # noqa: F401  (what every package UDF does)

        t = time.perf_counter()
        importlib.invalidate_caches()
        ms = (time.perf_counter() - t) * 1e3
        zips = sum(isinstance(f, zi.zipimporter) for f in sys.path_importer_cache.values())
        frozen = zi.zipimporter.invalidate_caches.__name__ == "_keep_zip_directories"
        return pa.StructArray.from_arrays(
            [pa.array([ms] * len(x)), pa.array([zips] * len(x), pa.int32()),
             pa.array([frozen] * len(x))],
            names=["ms", "zips", "frozen"])

    rows = spark.range(0, 8, 1, 8).select(probe("id").alias("p")).select("p.*").collect()
    assert all(r["frozen"] for r in rows)
    # the workers import pyspark from zips, so there is something to skip
    assert min(r["zips"] for r in rows) > 0
    assert max(r["ms"] for r in rows) < 20.0, [r["ms"] for r in rows]


def test_add_py_file_after_warm_workers(spark, tokens_df, tmp_path):
    _warm_workers(spark, tokens_df)
    tag = uuid.uuid4().hex[:8]
    mod, pkg = f"apad_late_mod_{tag}", f"apad_late_zip_{tag}"
    mod_path = tmp_path / f"{mod}.py"
    mod_path.write_text("VALUE = 40\n")
    zip_path = tmp_path / f"{pkg}.zip"
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "VALUE = 2\n")
    spark.sparkContext.addPyFile(str(mod_path))
    spark.sparkContext.addPyFile(str(zip_path))

    @F.arrow_udf(T.LongType())
    def late(x: pa.Array) -> pa.Array:
        import importlib

        v = importlib.import_module(mod).VALUE + importlib.import_module(pkg).VALUE
        return pa.array([v] * len(x), pa.int64())

    got = {r[0] for r in spark.range(0, 8, 1, 8).select(late("id")).collect()}
    assert got == {42}


def test_hook_skips_driver_and_python_313(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    # the driver imported the package and is left alone
    assert original is not S._keep_zip_directories
    assert S.freeze_worker_zip_caches() is False
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(S, "sys", types.SimpleNamespace(version_info=(3, 13, 0)))
    assert S.freeze_worker_zip_caches() is False
    assert zipimport.zipimporter.invalidate_caches is original

    # a worker on an older interpreter is patched (undone on teardown)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(S, "sys", types.SimpleNamespace(version_info=(3, 11, 7)))
    assert S.freeze_worker_zip_caches() is True
    assert zipimport.zipimporter.invalidate_caches is S._keep_zip_directories
