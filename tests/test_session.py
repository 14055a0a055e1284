"""get_spark defaults that cut fixed per-plan and per-file cost."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_dataframe_debugging_off_by_default(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(DEBUG_CONF) == "false"
    assert is_debugging_enabled() is False


def test_extra_conf_turns_dataframe_debugging_back_on():
    code = (
        "from autoprepad_spark.session import get_spark\n"
        f"s = get_spark('debug-on', cores=1, extra_conf={{{DEBUG_CONF!r}: 'true'}})\n"
        f"print('CONF', s.conf.get({DEBUG_CONF!r}))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=REPO)
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       env=env, cwd=REPO, timeout=300)
    assert "CONF true" in p.stdout.splitlines(), p.stderr[-2000:]


def test_local_files_keep_hadoop_modes(spark, tmp_path):
    from autoprepad_spark.session import NIO_LOCAL_FS, nio_local_fs_classpath

    if nio_local_fs_classpath() is None:
        pytest.skip("no javac or Hadoop jar: the session keeps Hadoop's local file system")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == NIO_LOCAL_FS
    out = str(tmp_path / "t")
    spark.range(40).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(out)
    assert spark.read.parquet(out).count() == 40
    # Hadoop's defaults under its 022 umask: 0666 -> 0644, 0777 -> 0755
    modes = {}
    for root, dirs, files in os.walk(out):
        for d in dirs:
            modes[os.path.join(root, d)] = 0o755
        for f in files:
            modes[os.path.join(root, f)] = 0o644
    assert any(p.endswith(".parquet.crc") for p in modes)  # still checksummed
    for path, mode in modes.items():
        assert stat.S_IMODE(os.stat(path).st_mode) == mode, path


def test_local_writes_start_no_chmod_process(tmp_path):
    from autoprepad_spark.session import NIO_LOCAL_AFS, nio_local_fs_classpath

    if nio_local_fs_classpath() is None:
        pytest.skip("no javac or Hadoop jar: the session keeps Hadoop's local file system")
    shim, log = tmp_path / "bin", tmp_path / "chmod.log"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$*" >> {log}\nexec {shutil.which("chmod")} "$@"\n'
    )
    (shim / "chmod").chmod(0o755)
    extra = tmp_path / "extra-classes"
    extra.mkdir()
    code = (
        "import os\n"
        "from autoprepad_spark.session import get_spark\n"
        f"s = get_spark('no-chmod', cores=2, extra_conf={{"
        f"'spark.driver.extraClassPath': {str(extra)!r}}})\n"
        f"log, d = {str(log)!r}, {str(tmp_path)!r}\n"
        "n = lambda: len(open(log).readlines()) if os.path.exists(log) else 0\n"
        "s.range(20).write.parquet(d + '/a')\n"
        "print('SPARK', n())\n"
        # the checkpoint's metadata, offset, source and commit logs go
        # through Hadoop's FileContext API
        "q = (s.readStream.schema('id long').parquet(d + '/a').writeStream.format('noop')\n"
        "     .option('checkpointLocation', d + '/ck').trigger(availableNow=True).start())\n"
        "q.awaitTermination()\n"
        "print('STREAM', n(), os.path.exists(d + '/ck/commits/0'))\n"
        "jvm = s.sparkContext._jvm\n"
        "H = jvm.org.apache.hadoop\n"
        "def fc_create(impl, name):\n"
        "    conf = H.conf.Configuration(s.sparkContext._jsc.hadoopConfiguration())\n"
        "    if impl:\n"
        "        conf.set('fs.AbstractFileSystem.file.impl', impl)\n"
        "    fc = H.fs.FileContext.getFileContext(conf)\n"
        "    print('AFS', fc.getDefaultFileSystem().getClass().getName())\n"
        "    opts = s.sparkContext._gateway.new_array(H.fs.Options.CreateOpts, 0)\n"
        "    flags = jvm.java.util.EnumSet.of(H.fs.CreateFlag.CREATE)\n"
        "    fc.create(H.fs.Path(d + '/' + name), flags, opts).close()\n"
        "fc_create(None, 'fc')\n"
        "print('FC', n())\n"
        "fc_create('org.apache.hadoop.fs.local.LocalFs', 'hadoop-fc')\n"
        "print('HADOOP_FC', n())\n"
        "conf = jvm.org.apache.hadoop.conf.Configuration(s.sparkContext._jsc.hadoopConfiguration())\n"
        "conf.set('fs.file.impl', 'org.apache.hadoop.fs.LocalFileSystem')\n"
        "conf.set('fs.file.impl.disable.cache', 'true')\n"
        "fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI('file:///'), conf)\n"
        "fs.create(jvm.org.apache.hadoop.fs.Path(d + '/b')).close()\n"
        "print('HADOOP', n())\n"
        "print('CP', s.sparkContext.getConf().get('spark.driver.extraClassPath'))\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYTHONPATH=REPO,
               PATH=os.pathsep.join([str(shim), os.environ["PATH"]]))
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       env=env, cwd=REPO, timeout=300)
    lines = p.stdout.splitlines()
    counts = {ln.split()[0]: int(ln.split()[1]) for ln in lines
              if ln.split()[0] in ("SPARK", "STREAM", "FC", "HADOOP_FC", "HADOOP")}
    assert counts.get("SPARK") == 0, p.stderr[-2000:]
    assert "STREAM 0 True" in lines, lines  # a committed trigger, no chmod
    assert f"AFS {NIO_LOCAL_AFS}" in lines, lines
    assert counts["FC"] == 0, lines
    # the shim sees Hadoop's own local file systems shell out for the mode
    assert counts["HADOOP_FC"] > counts["FC"], lines
    assert counts["HADOOP"] > counts["HADOOP_FC"], lines
    assert (tmp_path / ".fc.crc").exists()  # FileContext writes stay checksummed
    assert stat.S_IMODE(os.stat(tmp_path / "fc").st_mode) == 0o644
    cp = next(ln for ln in lines if ln.startswith("CP ")).split()[1].split(os.pathsep)
    assert cp[0] == nio_local_fs_classpath() and cp[1] == str(extra)
