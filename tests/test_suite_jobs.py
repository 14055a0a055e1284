"""Per-call job budget of the runner, the zero-job fresh checkpoint, and
the Hadoop-FileSystem table probe.

Jobs are counted from the in-process status store by job group, and a
stage counts as a Python stage when its RDD operation graph names a
Python operator (a PythonRDD scan, an Arrow/pandas UDF evaluation)."""

import contextlib
import io
import re

import pytest
from py4j.protocol import Py4JJavaError

from autoprepad_spark import datagen as G
from autoprepad_spark import runner
from autoprepad_spark.operators.drift import ntok_histogram
from autoprepad_spark.plans.checkpoint import CheckpointTable
from autoprepad_spark.sources.tables import list_names
from conftest import output_names, plan_nodes, plan_shape

#: jobs of a warm runner.main call with a dimension, a drift baseline and
#: a fresh checkpoint: measured 18 both at this shape and at 64k rows /
#: 32 parts, so the bound is the measurement
MAX_JOBS_PER_CALL = 18
_PYTHON_OP = re.compile(r"Python|Pandas|InArrow|ArrowEval")


@contextlib.contextmanager
def _job_group(spark, name):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    jobs = []
    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sorted(sc.statusTracker().getJobIdsForGroup(name)))


def _python_jobs(spark, jobs):
    """The jobs with a stage whose operation graph names a Python operator."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    out = []
    for j in jobs:
        for sid in sc.statusTracker().getJobInfo(j).stageIds:
            dot = graph.makeDotFile(store.operationGraphForStage(sid))
            if _PYTHON_OP.search(" ".join(re.findall(r'label="([^"]*)"', dot))):
                out.append(j)
                break
    return out


def test_runner_call_job_budget(spark, tmp_path):
    table, dim, base = (str(tmp_path / n) for n in ("table", "dim", "base"))
    G.write_tokens(G.generate_tokens(spark, 4_000, seed=5, n_parts=8), table)
    G.source_dim(spark).write.parquet(dim)
    ntok_histogram(
        G.generate_tokens(spark, 2_000, seed=6, n_parts=8, drift_source="web")
    ).write.parquet(base)

    def call(i):
        ck = tmp_path / f"ck{i}"
        argv = ["--input", table, "--dim", dim, "--baseline-hist", base,
                "--output", str(tmp_path / f"out{i}"), "--run-id", "r",
                "--checkpoint", str(ck)]
        with contextlib.redirect_stdout(io.StringIO()):
            return runner.main(argv)

    assert call(0) == 2  # warm-up; the table carries injected violations
    with _job_group(spark, "runner-budget") as jobs:
        assert call(1) == 2
    assert 0 < len(jobs) <= MAX_JOBS_PER_CALL, jobs
    # only the violations write runs Python (the marking UDF); every
    # bookkeeping frame — lineage rows, verdict grid, drift scores — is
    # built in the JVM
    py = _python_jobs(spark, jobs)
    assert len(py) <= 1, py
    # the driver-side tables (verdicts, drift scores) are one-partition
    # local frames: one task, one file each
    for sink in ("verdicts", "drift"):
        files = [f for f in list_names(spark, str(tmp_path / "out1" / sink))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (sink, files)


def test_violations_plan_runs_the_flag_udf_once(spark, tokens_df, dim_df):
    """The suite's violations plan evaluates the Arrow flag UDF once, over
    the reduced columns: no Filter above the UDF for Catalyst to push
    below it, where a second evaluation read the raw rows' tokens."""
    from autoprepad_spark.operators.marking import mark_slim
    from autoprepad_spark.operators.profile import global_stats
    from autoprepad_spark.plans.suite import allowed_sources
    from autoprepad_spark.plans.verdicts import explode_violations

    viol = explode_violations(mark_slim(
        tokens_df, global_stats(tokens_df), allowed_sources=allowed_sources(dim_df)))
    assert plan_shape(viol) == {"Exchange": 0, "Python": 1, "Generate": 1}
    (udf,) = [n for n in plan_nodes(viol) if n.nodeName() == "ArrowEvalPython"]
    assert "tokens" not in output_names(udf.children().apply(0))


def test_missing_checkpoint_costs_no_job(spark, tokens_df, tmp_path):
    ck = CheckpointTable(spark, str(tmp_path / "never-written"))
    with _job_group(spark, "fresh-checkpoint") as jobs:
        assert ck.completed_parts("r") == []
        assert ck.remaining(tokens_df, "r") is tokens_df
    assert jobs == []


def test_list_names_uses_the_path_scheme(spark, tmp_path):
    root = tmp_path / "idx"
    (root / "ingest_batch=0").mkdir(parents=True)
    (root / "ingest_batch=0" / "part-0.parquet").write_bytes(b"x")
    (root / "_SUCCESS").write_bytes(b"")
    # a URI (not a plain local path) lists through its FileSystem
    uri = root.as_uri()
    assert sorted(list_names(spark, uri)) == ["_SUCCESS", "ingest_batch=0"]
    assert sorted(list_names(spark, uri, recursive=True)) == ["_SUCCESS", "part-0.parquet"]
    assert list(list_names(spark, str(tmp_path / "absent"))) == []
    # a scheme with no FileSystem fails loudly instead of reading as absent
    with pytest.raises(Py4JJavaError, match="No FileSystem for scheme"):
        list(list_names(spark, "nosuchfs://bucket/idx"))
    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    ck.mark("r", [("p-1", 3, 0, 0.1)])
    assert CheckpointTable(spark, (tmp_path / "ck").as_uri()).completed_parts("r") == ["p-1"]
