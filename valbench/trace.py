"""The traced run: the suite's and the stream stage's layers called one
by one, each under its own Spark job group.

A span records the wall time of the calls into one layer and, from the
in-process status store, the executor metrics of every stage its jobs
ran: CPU, GC, input and shuffle bytes, spill and records. Lazy layers
are materialized inside their own span, so the suite's one fused
violations job is split into marking, uniqueness and sink jobs here;
``trace.overhead_frac`` reports how far the sum of spans lands from the
untraced iteration.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation, SparkSession, functions as F
from py4j.protocol import Py4JJavaError

from autoprepad_spark import schema as S
from autoprepad_spark.datagen import VOCAB_SIZE
from autoprepad_spark.operators import drift as drift_mod
from autoprepad_spark.operators.marking import mark_slim
from autoprepad_spark.operators.profile import global_stats
from autoprepad_spark.operators.uniqueness import duplicate_rows
from autoprepad_spark.plans import verdicts as V
from autoprepad_spark.plans.checkpoint import CheckpointTable
from autoprepad_spark.plans.suite import ALL_CHECKS, ROW_COUNT_MARK
from autoprepad_spark.streaming import pipeline as P

from valbench import fixtures as FX
from valbench.workloads import ALERT_THRESHOLD

#: every per-layer metric; a layer a workload does not run reports 0
LAYER_METRICS = {
    "session.start_s": "s",
    "schema.validate_s": "s",
    "profile.fit_s": "s",
    "profile.cpu_s": "s",
    "profile.input_bytes_per_row": "B/row",
    "checkpoint.remaining_s": "s",
    "checkpoint.mark_s": "s",
    "checkpoint.scan_frac": "ratio",
    "marking.s": "s",
    "marking.cpu_s": "s",
    "marking.gc_s": "s",
    "marking.input_bytes_per_row": "B/row",
    "marking.flagged_frac": "ratio",
    "uniqueness.s": "s",
    "uniqueness.cpu_s": "s",
    "uniqueness.shuffle_bytes_per_row": "B/row",
    "uniqueness.confirm_ratio": "ratio",
    "uniqueness.task_skew": "ratio",
    "sink.write_s": "s",
    "sink.files": "count",
    "sink.bytes_per_violation": "B",
    "verdicts.assemble_s": "s",
    "drift.s": "s",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.rows_per_batch": "count",
    "trace.overhead_frac": "ratio",
}


class Tracer:
    """Spans keyed by layer name; ``spans`` holds the latest of each."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: dict[str, dict] = {}
        self._n = 0

    @contextmanager
    def span(self, name: str, skew: bool = False):
        self._n += 1
        group = f"valbench:{name}:{self._n}"
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
            self.spans[name] = {"s": wall, **self._stages(group, skew)}

    def _stages(self, group: str, skew: bool) -> dict:
        """Executor metrics summed over the stages the group's jobs ran."""
        self._jsc.listenerBus().waitUntilEmpty()
        store, tracker = self._jsc.statusStore(), self.sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict(cpu_s=0.0, run_s=0.0, gc_s=0.0, input_bytes=0, input_records=0,
                 shuffle_write_bytes=0, shuffle_read_bytes=0, spill_bytes=0, task_skew=0.0)
        heaviest = None
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the scheduler skipped is never stored
                continue
            m["cpu_s"] += sd.executorCpuTime() / 1e9
            m["run_s"] += sd.executorRunTime() / 1e3
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["input_bytes"] += sd.inputBytes()
            m["input_records"] += sd.inputRecords()
            m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if heaviest is None or sd.executorRunTime() > heaviest.executorRunTime():
                heaviest = sd
        if skew and heaviest is not None:
            tasks = store.taskList(heaviest.stageId(), heaviest.attemptId(), 1 << 20)
            durations = [tasks.apply(i).duration() for i in range(tasks.length())]
            durations = [d.get() for d in durations if d.isDefined()]
            if durations and statistics.median(durations) > 0:
                m["task_skew"] = max(durations) / statistics.median(durations)
        return m

    def total_s(self) -> float:
        return sum(s["s"] for s in self.spans.values())


def confirm_ratio(df) -> float:
    """True duplicate rows over rows whose doc_id hash repeats: the share
    of duplicate_rows' hash candidates its exact group confirms."""
    keyed = df.select("doc_id").filter(F.col("doc_id").isNotNull())

    def repeated_rows(key) -> int:
        n = keyed.groupBy(key).count().filter(F.col("count") > 1).agg(F.sum("count"))
        return n.collect()[0][0] or 0

    cand = repeated_rows(F.xxhash64("doc_id").alias("h"))
    return repeated_rows("doc_id") / cand if cand else 1.0


def _dir_files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under path."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def suite_iteration(tr: Tracer, wl) -> tuple[dict, float, list[str]]:
    """One runner call's composition (runner.main + ValidationSuite.run
    with their defaults) layer by layer; (layer metrics, span sum, problems)."""
    spark = wl.spark
    wl.reset()
    tr.spans.clear()
    df = spark.read.parquet(wl.table)
    dim = spark.read.parquet(wl.dim)
    baseline = spark.read.parquet(wl.baseline)
    ck = CheckpointTable(spark, wl.ck)
    run_id, out = FX.RUN_ID, f"{wl.out}-traced"
    t0 = time.perf_counter()

    with tr.span("schema"):
        report = S.validate_schema(df, S.TOKENS_SCHEMA, allow_extra=True)
    if any(i.kind in ("missing", "type_mismatch") for i in report.issues):
        raise ValueError(f"input schema does not conform: {report.issues}")
    with tr.span("profile"):
        stats = global_stats(df)
    with tr.span("checkpoint.remaining"):
        todo = ck.remaining(df, run_id)
        done = ck.completed_parts(run_id)

    with tr.span("marking"):
        d = dim.filter(F.col("active")) if "active" in dim.columns else dim
        allowed = sorted(r["source"] for r in d.select("source").distinct().collect())
        obs = Observation()
        marked = mark_slim(todo, stats, vocab_size=VOCAB_SIZE, allowed_sources=allowed).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("flag_total") > 0).cast("long")).alias("flagged"))
        row_viol = V.explode_violations(marked, include=set(ALL_CHECKS)).cache()
        n_row_viol = row_viol.count()

    with tr.span("uniqueness", skew=True):
        dup = duplicate_rows(df.select("part", "doc_id", "n_tok", "source"), "doc_id").select(
            "part", F.lit("unique_doc_id").alias("check_name"), "doc_id",
            F.lit(None).cast("string").alias("detail"))
        if done:
            dup = dup.filter(~F.col("part").isin(done))
        dup = dup.cache()
        n_dup = dup.count()

    viol_path = os.path.join(out, "violations")
    with tr.span("sink"):
        rc_rows = todo.groupBy("part").agg(F.count(F.lit(1)).alias("_rc")).select(
            "part", F.lit(ROW_COUNT_MARK).alias("check_name"),
            F.lit(None).cast("string").alias("doc_id"),
            F.col("_rc").cast("string").alias("detail"))
        row_viol.unionByName(rc_rows).unionByName(dup).write.mode("overwrite").parquet(viol_path)
    row_viol.unpersist()
    dup.unpersist()

    with tr.span("verdicts"):
        sunk = spark.read.parquet(viol_path)
        row_counts = sunk.filter(F.col("check_name") == ROW_COUNT_MARK).select(
            "part", F.col("detail").cast("long").alias("row_count"))
        verdicts = V.assemble_verdicts(
            row_counts, sunk.filter(F.col("check_name") != ROW_COUNT_MARK), ALL_CHECKS,
            stat_max_rate=V.STAT_MAX_RATE, hard_checks=V.HARD_CHECKS, stat_rates={})
        verdicts.write.mode("overwrite").parquet(os.path.join(out, "verdicts"))

    with tr.span("drift"):
        current = drift_mod.ntok_histogram(df, bucket_width=drift_mod.DEFAULT_BUCKET_WIDTH)
        drift_mod.drift(baseline, current).write.mode("overwrite").parquet(
            os.path.join(out, "drift"))

    with tr.span("checkpoint.mark"):
        per_part = (
            spark.read.parquet(os.path.join(out, "verdicts")).groupBy("part")
            .agg(F.max("row_count").alias("n"), F.sum("violation_count").alias("v"))
            .collect()
        )
        ck.mark(run_id, [(r["part"], r["n"] or 0, r["v"] or 0, time.perf_counter() - t0)
                         for r in per_part])

    n_fail = spark.read.parquet(os.path.join(out, "verdicts")).filter(
        F.col("status") == "fail").count()
    problems = wl.check(out, 2 if n_fail else 0, n_fail)

    sp, rows = tr.spans, wl.rows
    marked_rows = obs.get["rows"]
    files, size = _dir_files(viol_path)
    layers = {
        "schema.validate_s": sp["schema"]["s"],
        "profile.fit_s": sp["profile"]["s"],
        "profile.cpu_s": sp["profile"]["cpu_s"],
        "profile.input_bytes_per_row": sp["profile"]["input_bytes"] / rows,
        "checkpoint.remaining_s": sp["checkpoint.remaining"]["s"],
        "checkpoint.mark_s": sp["checkpoint.mark"]["s"],
        "checkpoint.scan_frac": marked_rows / rows,
        **_marking(sp["marking"], marked_rows, obs.get["flagged"]),
        "uniqueness.s": sp["uniqueness"]["s"],
        "uniqueness.cpu_s": sp["uniqueness"]["cpu_s"],
        "uniqueness.shuffle_bytes_per_row": sp["uniqueness"]["shuffle_write_bytes"] / rows,
        "uniqueness.task_skew": sp["uniqueness"]["task_skew"],
        "sink.write_s": sp["sink"]["s"],
        "sink.files": files,
        "sink.bytes_per_violation": size / max(1, n_row_viol + n_dup),
        "verdicts.assemble_s": sp["verdicts"]["s"],
        "drift.s": sp["drift"]["s"],
    }
    return layers, tr.total_s(), problems


def _marking(span: dict, rows: int, flagged: int) -> dict:
    return {
        "marking.s": span["s"],
        "marking.cpu_s": span["cpu_s"],
        "marking.gc_s": span["gc_s"],
        "marking.input_bytes_per_row": span["input_bytes"] / max(1, rows),
        "marking.flagged_frac": flagged / max(1, rows),
    }


def stream_batch(tr: Tracer, wl, k: int, batch_id: int) -> tuple[dict, float]:
    """One batch of the stream stage's composition (pipeline
    _validate_batch then _score_batch) on pool file k, written to the
    workload's traced sinks under ``batch_id``; (layer metrics, span sum).
    The workload checks those sinks when the run ends."""
    spark = wl.spark
    tr.spans.clear()
    sinks = wl.traced_sink
    d = wl.dim.filter(F.col("active")) if "active" in wl.dim.columns else wl.dim
    allowed = sorted(r["source"] for r in d.select("source").distinct().collect())
    batch = spark.read.schema(S.TOKENS_SCHEMA).parquet(wl.pool[k]).cache()

    with tr.span("marking"):
        obs = Observation()
        marked = mark_slim(batch, wl.stats, allowed_sources=allowed).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("flag_total") > 0).cast("long")).alias("flagged"))
        viol = V.explode_violations(marked).cache()
        n_viol = viol.count()
    with tr.span("verdicts"):
        row_counts = batch.groupBy("part").agg(F.count(F.lit(1)).alias("row_count"))
        checks = [c for c in ALL_CHECKS if c != "unique_doc_id"]
        verd = V.assemble_verdicts(row_counts, viol, checks).cache()
        verd.count()
    with tr.span("sink"):
        P._sink(viol, sinks["violations"], batch_id)
        P._sink(verd, sinks["verdicts"], batch_id)
        scored = batch.select("part", "doc_id", "n_tok", "source",
                              wl.score.alias("anomaly_score")).cache()
        P._sink(scored, sinks["scored"], batch_id)
        P._sink(scored.filter(F.col("anomaly_score") > ALERT_THRESHOLD),
                sinks["alerts"], batch_id)
    for df in (scored, verd, viol, batch):
        df.unpersist()

    sp = tr.spans
    files = size = 0
    for s, path in sinks.items():
        n, b = _dir_files(os.path.join(path, f"ingest_batch={batch_id}"))
        files += n
        size += b if s == "violations" else 0
    layers = {
        **_marking(sp["marking"], obs.get["rows"], obs.get["flagged"]),
        "sink.write_s": sp["sink"]["s"],
        "sink.files": files,
        "sink.bytes_per_violation": size / max(1, n_viol),
        "verdicts.assemble_s": sp["verdicts"]["s"],
    }
    return layers, tr.total_s()


def medians(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
