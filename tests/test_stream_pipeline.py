"""Composed streaming pipeline (streaming/pipeline.py): dedup, then
validate, score and drift, in one foreachBatch over one checkpoint.

Pins the three seams the single-stage tests cannot: (1) validators,
scorer and drift see ONLY dedup survivors; (2) a full replay (fresh
checkpoint, same files) leaves EVERY composed sink — kept, dropped,
index, verdicts, violations, scored, alerts, drift — row-for-row
identical (each sink's batch partition is replaced); (3) a restart with
the checkpoint intact is a no-op until new files arrive, and then
processes only them. It also pins the concurrent sink writes: they
overlap, stay in the query's job group and scan the batch once, and a
failing stage surfaces only after its sibling writes have returned;
and the per-trigger cost: a warm trigger runs at most 6 jobs, compiles
no code and does not re-read the drift baseline.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pytest
from conftest import codegen_compiles
from pyspark.sql import functions as F, types as T

from autoprepad_spark.operators import incremental as INC
from autoprepad_spark.operators.drift import ntok_histogram
from autoprepad_spark.operators.profile import global_stats
from autoprepad_spark.streaming.pipeline import (
    DedupStage,
    DriftStage,
    ScoreStage,
    ValidateStage,
    seed_index,
    stream_pipeline,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tokens", T.ArrayType(T.IntegerType())),
    T.StructField("n_tok", T.IntegerType()),
    T.StructField("source", T.StringType()),
    T.StructField("part", T.StringType()),
])


def _mk_text(i, n=40):
    rng = np.random.default_rng([29, i])
    return " ".join(f"w{v}" for v in rng.integers(0, 500, n))


def _doc(did, text, n_tok, part="p-0"):
    return (did, text, list(range(1, n_tok + 1)), n_tok, "web", part)


HIST = [(f"h{i:02d}", _mk_text(i)) for i in range(10)]
FILE1 = [
    _doc("d200", HIST[3][1], 50),            # exact dup of history -> drop
    _doc("d201", _mk_text(101), 50),          # intra-batch exact pair:
    _doc("d202", _mk_text(101), 50),          #   keep-first d201, drop d202
    _doc("d203", _mk_text(102), 80, "p-1"),   # fresh, scores over threshold
]
FILE2 = [
    _doc("d300", _mk_text(102) + " tail", 40),  # near dup of kept d203
    _doc("d301", _mk_text(103), 55, "p-1"),     # fresh
    # fresh survivor that VIOLATES len_mismatch (10 tokens, n_tok=30):
    # exercises the violations sink through the replay assertions
    ("d302", _mk_text(105), list(range(1, 11)), 30, "web", "p-0"),
]


@pytest.fixture()
def paths(tmp_path):
    return {k: str(tmp_path / k) for k in
            ("inp", "idx", "kept", "drop", "ckpt",
             "verd", "viol", "scored", "alerts", "drift")}


def _stages(spark, paths, stats):
    return dict(
        dedup=DedupStage(index_path=paths["idx"], kept_path=paths["kept"],
                         dropped_path=paths["drop"]),
        validate=ValidateStage(stats=stats, verdict_path=paths["verd"],
                               violation_path=paths["viol"]),
        score=ScoreStage(score=F.col("n_tok").cast("double"),
                         scored_path=paths["scored"],
                         alert_path=paths["alerts"], threshold=60.0),
        drift=DriftStage(baseline_hist=ntok_histogram(spark.createDataFrame(FILE1, SCHEMA)),
                         drift_path=paths["drift"]),
    )


def _drain(spark, paths, stats):
    q = stream_pipeline(
        spark, paths["inp"], schema=SCHEMA,
        checkpoint_dir=paths["ckpt"], max_files_per_trigger=1,
        **_stages(spark, paths, stats),
    )
    q.awaitTermination(180)


def _snapshot(spark, paths):
    out = {}
    for k in ("idx", "kept", "drop", "verd", "viol", "scored", "alerts", "drift"):
        df = spark.read.parquet(paths[k])
        out[k] = sorted(
            tuple(str(v) for v in row)
            for row in df.collect()
        )
    return out


@pytest.fixture(scope="module")
def stats(spark):
    from autoprepad_spark.datagen import generate_tokens

    return global_stats(generate_tokens(spark, 20_000, seed=11, n_parts=4))


def test_composed_pipeline_and_replay(spark, paths, stats):
    seed_index(
        INC.build_dedup_index(spark.createDataFrame(HIST, "doc_id string, text string")),
        paths["idx"])

    # batch 0
    spark.createDataFrame(FILE1, SCHEMA).coalesce(1).write.mode(
        "append").parquet(paths["inp"])
    _drain(spark, paths, stats)
    # batch 1
    spark.createDataFrame(FILE2, SCHEMA).coalesce(1).write.mode(
        "append").parquet(paths["inp"])
    _drain(spark, paths, stats)

    kept = {r["doc_id"] for r in spark.read.parquet(paths["kept"]).collect()}
    dropped = {r["doc_id"]: r["reason"]
               for r in spark.read.parquet(paths["drop"]).collect()}
    assert kept == {"d201", "d203", "d301", "d302"}
    assert dropped == {"d200": "exact", "d202": "exact_in_batch",
                       "d300": "near"}
    viol = spark.read.parquet(paths["viol"])
    assert {(r["doc_id"], r["check_name"]) for r in viol.collect()} >= {
        ("d302", "len_mismatch")}

    # (1) downstream stages saw ONLY survivors
    scored = spark.read.parquet(paths["scored"])
    assert {r["doc_id"] for r in scored.collect()} == kept
    alerts = {r["doc_id"] for r in spark.read.parquet(paths["alerts"]).collect()}
    assert alerts == {"d203"}  # the one survivor with n_tok > 60
    verd = spark.read.parquet(paths["verd"])
    # verdict row counts = survivors per (batch, part), never arrivals
    rc = {(r["ingest_batch"], r["part"]): r["row_count"]
          for r in verd.select("ingest_batch", "part", "row_count")
          .distinct().collect()}
    assert rc == {(0, "p-0"): 1, (0, "p-1"): 1,
                  (1, "p-0"): 1, (1, "p-1"): 1}
    # uniqueness is excluded by design on a file subset
    assert verd.filter(F.col("check_name") == "unique_doc_id").count() == 0
    # drift histograms count survivors per batch too
    drift = {(r["ingest_batch"], r["source"]): r["current_n"]
             for r in spark.read.parquet(paths["drift"]).collect()}
    assert drift == {(0, "web"): 2, (1, "web"): 2}

    # (2) FULL REPLAY: wipe the checkpoint, re-drain the same files —
    # every composed sink must come out row-for-row identical (each
    # batch partition replaced, same batch numbering from the fresh log)
    before = _snapshot(spark, paths)
    shutil.rmtree(paths["ckpt"])
    _drain(spark, paths, stats)
    assert _snapshot(spark, paths) == before

    # (3) restart with checkpoint intact: no new files -> no-op
    _drain(spark, paths, stats)
    assert _snapshot(spark, paths) == before
    # a new file is processed as exactly one new batch
    extra = [_doc("d400", _mk_text(104), 45)]
    spark.createDataFrame(extra, SCHEMA).coalesce(1).write.mode(
        "append").parquet(paths["inp"])
    _drain(spark, paths, stats)
    after = {r["doc_id"] for r in spark.read.parquet(paths["kept"]).collect()}
    assert after == kept | {"d400"}
    assert spark.read.parquet(paths["scored"]).filter(
        F.col("doc_id") == "d400").count() == 1


def test_stage_guards(spark, paths, stats):
    with pytest.raises(ValueError, match="at least one stage"):
        stream_pipeline(spark, paths["inp"], schema=SCHEMA,
                        checkpoint_dir=paths["ckpt"])
    with pytest.raises(ValueError, match="together"):
        ScoreStage(score=F.lit(0.0), scored_path="x", threshold=1.0)


def _jobs(spark, skip=frozenset()):
    """Jobs in the status store whose ids are not in ``skip``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return [j for j in (jobs.apply(i) for i in range(jobs.length()))
            if j.jobId() not in skip]


def _stages_of(spark, job):
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    ids = job.stageIds()
    out = []
    for i in range(ids.length()):
        try:
            out.append(store.lastStageAttempt(ids.apply(i)))
        except Py4JJavaError:  # a skipped stage is never stored
            pass
    return out


def _validate_score(stats, p, score=None):
    return dict(
        validate=ValidateStage(stats=stats, verdict_path=p["verd"],
                               violation_path=p["viol"]),
        score=ScoreStage(score=F.col("n_tok").cast("double") if score is None else score,
                         scored_path=p["scored"], alert_path=p["alerts"],
                         threshold=60.0, keep_cols=["part", "doc_id", "n_tok"]),
    )


def _trigger(spark, q, p, i, rows=2_000):
    """Land generated file ``i`` in the query's inbox and wait for its
    trigger; returns (the jobs it ran, the classes it compiled)."""
    from autoprepad_spark.datagen import generate_tokens

    out = os.path.join(p["stage"], str(i))
    generate_tokens(spark, rows, seed=40 + i, n_parts=2).coalesce(1).write.parquet(out)
    (f,) = glob.glob(os.path.join(out, "*.parquet"))
    seen = {j.jobId() for j in _jobs(spark)}
    compiled = codegen_compiles(spark)
    os.rename(f, os.path.join(p["inp"], f"f{i}.parquet"))
    q.processAllAvailable()
    return _jobs(spark, seen), codegen_compiles(spark) - compiled


def _query(spark, p, **stages):
    from autoprepad_spark.schema import TOKENS_SCHEMA

    os.makedirs(p["inp"])
    return stream_pipeline(
        spark, p["inp"], schema=TOKENS_SCHEMA, checkpoint_dir=p["ck"],
        available_now=False, max_files_per_trigger=1, **stages,
    )


def test_trigger_writes_sinks_concurrently(spark, tmp_path, stats):
    """A trigger's four sink writes run at the same time, inside the
    query's job group, and share one scan of the batch file; a warm
    trigger runs at most 6 jobs."""
    p = {k: str(tmp_path / k) for k in
         ("inp", "stage", "ck", "verd", "viol", "scored", "alerts")}
    rows = 2_000
    q = _query(spark, p, **_validate_score(stats, p))
    try:
        for i in range(2):  # the first trigger warms the query up
            jobs, _ = _trigger(spark, q, p, i, rows)
        group = str(q.runId)
    finally:
        q.stop()

    assert 0 < len(jobs) <= 6, len(jobs)
    # every job the trigger ran inherited the query's job group
    assert all(j.jobGroup().isDefined() and j.jobGroup().get() == group for j in jobs)
    writes = [(j.submissionTime().get().getTime(), j.completionTime().get().getTime())
              for j in jobs if any(s.outputBytes() > 0 for s in _stages_of(spark, j))]
    assert len(writes) == 4
    assert any(a0 < b1 and b0 < a1
               for i, (a0, a1) in enumerate(writes) for b0, b1 in writes[i + 1:]), writes
    # one stage scans the file; every other reads the caches
    scans = [s for j in jobs for s in _stages_of(spark, j) if s.inputRecords() == rows]
    assert len(scans) == 1


def test_warm_trigger_compiles_nothing(spark, tmp_path, stats):
    """A warm validate+score+drift trigger plans only code Spark has
    already compiled: no plan carries the batch id, and the stages'
    Columns are built when the query starts."""
    from autoprepad_spark.datagen import generate_tokens

    p = {k: str(tmp_path / k) for k in
         ("inp", "stage", "ck", "verd", "viol", "scored", "alerts", "drift")}
    baseline = ntok_histogram(generate_tokens(spark, 3_000, seed=3, n_parts=2))
    q = _query(spark, p, drift=DriftStage(baseline, p["drift"]),
               **_validate_score(stats, p))
    try:
        compiled = [_trigger(spark, q, p, i)[1] for i in range(3)]
    finally:
        q.stop()
    assert compiled[1:] == [0, 0], compiled


def test_drift_trigger_does_not_rescan_baseline(spark, tmp_path):
    """The drift baseline is collected once, when the query starts: no
    stage of a trigger reads the baseline table's rows."""
    from autoprepad_spark.datagen import generate_tokens

    p = {k: str(tmp_path / k) for k in ("inp", "stage", "ck", "drift", "base")}
    base_rows = 3_000
    generate_tokens(spark, base_rows, seed=3, n_parts=2).write.parquet(p["base"])
    baseline = ntok_histogram(spark.read.parquet(p["base"]))
    q = _query(spark, p, drift=DriftStage(baseline, p["drift"]))
    try:
        jobs = [j for i in range(2) for j in _trigger(spark, q, p, i)[0]]
    finally:
        q.stop()
    assert jobs
    assert not [s for j in jobs for s in _stages_of(spark, j)
                if s.inputRecords() == base_rows]
    drift = spark.read.parquet(p["drift"])
    assert {r[0] for r in drift.select("ingest_batch").distinct().collect()} == {0, 1}


def test_null_part_violations_fail_their_verdict(spark, paths, stats):
    """Rows without a partition key form one verdict group whose hard
    violations count: one null doc_id fails null_doc_id for it."""
    rows = [_doc(None, "a", 3, None), _doc("n1", "b", 3, None), _doc("k1", "c", 3)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(paths["inp"])
    q = stream_pipeline(
        spark, paths["inp"], schema=SCHEMA, checkpoint_dir=paths["ckpt"],
        validate=ValidateStage(stats=stats, verdict_path=paths["verd"],
                               violation_path=paths["viol"]),
    )
    q.awaitTermination(180)
    got = {(r["part"], r["check_name"]): (r["status"], r["violation_count"], r["row_count"])
           for r in spark.read.parquet(paths["verd"]).collect()}
    assert got[(None, "null_doc_id")] == ("fail", 1, 2)
    assert got[("p-0", "null_doc_id")] == ("pass", 0, 1)


def test_failed_stage_waits_for_siblings_and_replays(spark, tmp_path, stats):
    """A stage that raises fails the trigger only after its sibling
    writes have returned, commits nothing, and a restart replays the
    batch into exactly one copy per sink."""
    from pyspark.errors import StreamingQueryException

    from autoprepad_spark.datagen import generate_tokens
    from autoprepad_spark.schema import TOKENS_SCHEMA
    from autoprepad_spark.streaming.pipeline import _concurrently

    # the helper itself: a fast failure surfaces after a slow sibling
    done = []

    def fail():
        raise RuntimeError("first")

    def slow():
        time.sleep(0.5)
        done.append(1)

    with pytest.raises(RuntimeError, match="first"):
        _concurrently(fail, slow)
    assert done == [1]

    p = {k: str(tmp_path / k) for k in ("inp", "ck", "verd", "viol", "scored", "alerts")}
    rows = 2_000
    generate_tokens(spark, rows, seed=44, n_parts=2).coalesce(1).write.parquet(p["inp"])
    boom = F.raise_error(F.lit("score stage failed")).cast("double")
    q = stream_pipeline(spark, p["inp"], schema=TOKENS_SCHEMA, checkpoint_dir=p["ck"],
                        **_validate_score(stats, p, score=boom))
    with pytest.raises(StreamingQueryException, match="score stage failed"):
        q.awaitTermination(180)
    assert not os.path.exists(os.path.join(p["ck"], "commits", "0"))
    # the sibling validate stage's writes finished, nothing is in flight
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    first = {k: sorted(tuple(str(v) for v in r) for r in spark.read.parquet(p[k]).collect())
             for k in ("verd", "viol")}
    assert first["verd"] and first["viol"]

    q = stream_pipeline(spark, p["inp"], schema=TOKENS_SCHEMA, checkpoint_dir=p["ck"],
                        **_validate_score(stats, p))
    q.awaitTermination(180)
    assert os.path.exists(os.path.join(p["ck"], "commits", "0"))
    sink = {k: spark.read.parquet(p[k]) for k in ("verd", "viol", "scored", "alerts")}
    for k, df in sink.items():
        assert {r[0] for r in df.select("ingest_batch").distinct().collect()} == {0}, k
    scored = sink["scored"]
    assert scored.count() == rows
    assert sink["alerts"].count() == scored.filter("anomaly_score > 60").count() > 0
    # the replay overwrote the failed attempt's validate output
    for k in ("verd", "viol"):
        assert sorted(tuple(str(v) for v in r) for r in sink[k].collect()) == first[k], k
