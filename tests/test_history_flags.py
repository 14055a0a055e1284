"""history_flags — run-over-run metric anomaly detection (drift.py).

The verdict/lineage artifacts give a per-(partition, check) metric time
series; history_flags judges each run against its strictly-prior robust
baseline (trailing median/MAD, the marking pass's modified-Z constants).
Tests pin a Python oracle replica, the zero-MAD jump alarm, min_history
gating, strictly-prior idempotence, parallelism independence, and the
checkpoint-table integration loop.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from autoprepad_spark.operators.drift import history_flags
from autoprepad_spark.functions.stats import MAD_SCALE


def _oracle(series, threshold=3.5, min_history=3):
    out = []
    for i, x in enumerate(series):
        prior = [v for v in series[:i] if v is not None]
        if not prior or x is None:
            out.append((len(prior), None, None, None, False))
            continue
        m = float(np.median(prior))
        d = float(np.median(np.abs(np.array(prior) - m)))
        z = (MAD_SCALE * abs(x - m) / d) if d > 0 else (
            0.0 if x == m else float("inf"))
        out.append((len(prior), m, d, z,
                    len(prior) >= min_history and z > threshold))
    return out


@pytest.fixture(scope="module")
def history(spark):
    rows = []
    # key A: stable ~10 with jitter, one planted spike at run 8
    a = [10, 11, 9, 10, 12, 10, 11, 10, 40, 10, 11, 10]
    # key B: constant 0 then a jump (the zero-MAD alarm)
    b = [0, 0, 0, 0, 0, 5, 0, 0, 0, 0, 0, 0]
    # key C: contains a null metric mid-series
    c = [3.0, 3.5, None, 3.2, 3.1, 3.4, 20.0, 3.3, 3.2, 3.1, 3.0, 3.2]
    for name, series in (("A", a), ("B", b), ("C", c)):
        for seq, v in enumerate(series):
            rows.append(Row(part=f"p-{name}", check_name="unique_doc_id",
                            run_seq=seq,
                            metric=float(v) if v is not None else None))
    return spark.createDataFrame(
        rows, schema="part string, check_name string, run_seq int, "
                     "metric double")


def test_matches_python_oracle(spark, history):
    got = history_flags(history, "metric").collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["part"], []).append(r)
    for part, series in (("p-A", [10, 11, 9, 10, 12, 10, 11, 10, 40, 10, 11, 10]),
                         ("p-B", [0, 0, 0, 0, 0, 5, 0, 0, 0, 0, 0, 0]),
                         ("p-C", [3.0, 3.5, None, 3.2, 3.1, 3.4, 20.0,
                                  3.3, 3.2, 3.1, 3.0, 3.2])):
        rows = sorted(by_key[part], key=lambda r: r["run_seq"])
        exp = _oracle(series)
        for r, (nh, m, d, z, fl) in zip(rows, exp):
            assert r["n_history"] == nh, (part, r["run_seq"])
            if m is None:
                assert r["mod_z"] is None or np.isnan(r["mod_z"])
            else:
                assert r["trailing_median"] == m
                assert r["trailing_mad"] == d
                assert (r["mod_z"] == z) or (
                    np.isinf(z) and np.isinf(r["mod_z"]))
            assert bool(r["flagged"]) == fl, (part, r["run_seq"])


def test_planted_anomalies_found_exactly(history):
    flagged = {(r["part"], r["run_seq"])
               for r in history_flags(history, "metric").collect()
               if r["flagged"]}
    assert flagged == {("p-A", 8), ("p-B", 5), ("p-C", 6)}


def test_strictly_prior_and_idempotent(spark, history):
    """The spike itself is judged, never judges: rows after the spike
    still compare against a baseline containing it (median absorbs
    one outlier), and re-scoring the identical frame is byte-stable."""
    r1 = sorted(map(tuple, history_flags(history, "metric").collect()))
    r2 = sorted(map(tuple, history_flags(history, "metric").collect()))
    assert r1 == r2
    # run 9 of key A (after the spike) must NOT be flagged: its trailing
    # median is still ~10 because the single 40 can't move the median
    row = [r for r in history_flags(history, "metric").collect()
           if r["part"] == "p-A" and r["run_seq"] == 9][0]
    assert not row["flagged"] and row["trailing_median"] == 10.0


def test_min_history_gates_early_runs(spark):
    rows = [Row(part="p", check_name="c", run_seq=i, metric=float(v))
            for i, v in enumerate([0, 100, 0, 100])]
    df = spark.createDataFrame(
        rows, schema="part string, check_name string, run_seq int, metric double")
    got = {r["run_seq"]: r["flagged"]
           for r in history_flags(df, "metric", min_history=3).collect()}
    # runs 1 and 2 deviate infinitely from their tiny history but are
    # gated (1 and 2 prior points < 3); run 3 has enough history
    assert got == {0: False, 1: False, 2: False, 3: True}


def test_parallelism_independent(spark, history):
    a = sorted(map(tuple, history_flags(
        history.repartition(1), "metric").collect()))
    b = sorted(map(tuple, history_flags(
        history.repartition(16), "metric").collect()))
    assert a == b


def test_checkpoint_table_loop(spark, tmp_path):
    """The production loop: CheckpointTable lineage rows -> a run_seq
    from the run-id ordering the caller maintains -> flags on the
    violation-count series."""
    from pyspark.sql import functions as F

    from autoprepad_spark.plans.checkpoint import CheckpointTable

    ck = CheckpointTable(spark, str(tmp_path / "lineage"))
    run_ids = [f"r{i:03d}" for i in range(8)]
    for i, rid in enumerate(run_ids):
        nv = 2 if i != 6 else 500  # regression in run 6
        ck.mark(rid, [("p-000", 1000, nv, 1.0), ("p-001", 1000, 2, 1.0)])
    seq = spark.createDataFrame(
        [(rid, i) for i, rid in enumerate(run_ids)], ["run_id", "run_seq"])
    hist = ck.read().join(F.broadcast(seq), "run_id")
    got = history_flags(hist, "n_violations", key_cols=("part",)).collect()
    flagged = {(r["part"], r["run_seq"]) for r in got if r["flagged"]}
    assert flagged == {("p-000", 6)}


def test_runner_sample_smoke(spark, tokens_df, dim_df, tmp_path):
    """--sample validates a deterministic hash-sample: row counts shrink
    to ~fraction, the sampled doc set is reproducible for the same
    run-id, and verdict assembly still covers every check."""
    from pyspark.sql import functions as F

    from autoprepad_spark import runner

    tok = str(tmp_path / "tok.parquet")
    dim = str(tmp_path / "dim.parquet")
    tokens_df.write.parquet(tok)
    dim_df.write.parquet(dim)

    outs = []
    for i, out in enumerate(["o1", "o2"]):
        runner.main([
            "--input", tok, "--dim", dim,
            "--output", str(tmp_path / out),
            "--run-id", "smoke-1", "--sample", "0.1",
        ])
        v = spark.read.parquet(str(tmp_path / out / "verdicts"))
        outs.append(sorted(map(tuple, v.collect())))
    # reproducible: identical verdicts (counts included) across reruns
    assert outs[0] == outs[1]
    total = sum(r["row_count"] for r in spark.read.parquet(
        str(tmp_path / "o1" / "verdicts"))
        .groupBy("part").agg(F.max("row_count").alias("row_count")).collect())
    n = tokens_df.count()
    assert 0.07 * n < total < 0.13 * n  # ~10% sample
