"""Tests for the predict()-contract scoring, the eval harness, the
injected-violation recall proof, and the scale-plan assertions
(spearman: no window; uniqueness: hash == key method)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from autoprepad_spark.functions import stats as FS
from autoprepad_spark.operators import evaluation as EV
from autoprepad_spark.operators.scoring import ensemble_score, predict
from autoprepad_spark.operators.correlation import spearman_matrix
from autoprepad_spark.operators.uniqueness import duplicate_rows


@pytest.fixture(scope="module")
def scored_frame(spark):
    # 200 inliers around 50 + 8 extreme outliers; id is the key
    vals = [float(50 + (i % 7)) for i in range(200)] + [5000.0] * 8
    rows = [(i, v) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, ["id", "x"]).cache()


def test_predict_matches_pandas_oracle(scored_frame):
    st = FS.fit_robust(scored_frame, "x")
    fams = {
        "Tukey": [FS.tukey_flag(F.col("x"), st)],
        "MAD": [FS.mad_flag(F.col("x"), st)],
    }
    out = predict(scored_frame, fams, pct=0.1).toPandas()

    pdf = scored_frame.toPandas().sort_values("id")
    x = pdf["x"].to_numpy()
    q1, med, q3 = np.percentile(x, [25, 50, 75])
    mad = np.median(np.abs(x - med))
    tukey = ((x < q1 - 1.5 * (q3 - q1)) | (x > q3 + 1.5 * (q3 - q1))).astype(int)
    madf = (np.abs(0.6745 * (x - med) / mad) > 3.5).astype(int)
    raw = tukey + madf
    # reference labeling: strict > percentile(raw, 90) (runs.py:211-214)
    thr = np.percentile(raw, 90)
    want_label = (raw > thr).astype(int)
    want_score = (raw - raw.min()) / max(raw.max() - raw.min(), 1)

    got = out.sort_values("id")
    assert np.array_equal(got["Tukey_Total"].to_numpy(), tukey)
    assert np.array_equal(got["MAD_Total"].to_numpy(), madf)
    assert np.array_equal(got["AnomalyLabel"].to_numpy(), want_label)
    assert np.allclose(got["AnomalyScore"].to_numpy(), want_score)
    # severity sort: scores non-increasing in output order
    s = out["AnomalyScore"].to_numpy()
    assert (np.diff(s) <= 1e-12).all()


def test_confusion_and_or_merge(spark):
    rows = [(1, 1, 0), (1, 0, 1), (0, 1, 0), (0, 0, 0), (1, 1, 1), (0, 0, 1)]
    df = spark.createDataFrame(rows, ["y", "pred", "statflag"])
    merged = EV.or_merge(F.col("pred"), F.col("statflag"))
    r = EV.confusion(df, F.col("y"), merged).collect()[0]
    # merged preds: 1,1,1,0,1,1 -> tp=3 fp=2 fn=0 tn=1
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (3, 2, 0, 1)
    assert r["recall"] == 1.0
    assert abs(r["precision"] - 0.6) < 1e-12
    assert abs(r["f1"] - 0.75) < 1e-12


def test_pr_sweep_counts(spark):
    # score == y for a perfect classifier at any threshold in (0, 1)
    rows = [(i, float(i % 5 == 0), i % 5 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "score", "y"])
    out = EV.pr_sweep(df, "score", F.col("y"), pcts=[50, 90]).toPandas()
    # pct 50: threshold 0.0 -> predict score>0 == truth: perfect
    r50 = out[out.pct == 50].iloc[0]
    assert r50["tp"] == 20 and r50["fp"] == 0 and r50["fn"] == 0
    assert r50["precision"] == 1.0 and r50["recall"] == 1.0
    # pct 90: np.percentile of 20% ones at 90 -> threshold 1.0 (ties at top):
    # strict > 1.0 predicts nothing -> recall 0
    r90 = out[out.pct == 90].iloc[0]
    assert r90["tp"] == 0 and r90["recall"] == 0.0


def test_suite_recall_on_injected_violations(spark, tokens_df, dim_df):
    """Hard-check recall must be 1.0 against datagen's injected truth
    (the VERDICT done-criterion for the eval harness)."""
    from autoprepad_spark.datagen import (
        BAD_SOURCE_MOD, EMPTY_MOD, LEN_MISMATCH_MOD, NULL_DOC_MOD, TOKEN_OOB_MOD,
    )
    from autoprepad_spark.plans.suite import ValidationSuite

    n_rows, n_parts = 40_000, 8
    res = ValidationSuite().run(tokens_df, dim=dim_df)
    viol = res.violations.toPandas()

    idx = np.arange(n_rows)
    clean = idx % n_parts == 0
    def truth(mod, r):
        hit = (idx % mod == r) & ~clean
        return {f"doc-{i:012d}" for i in idx[hit]}

    cases = {
        "len_mismatch": truth(*LEN_MISMATCH_MOD),
        "token_oob": truth(*TOKEN_OOB_MOD),
        "empty_tokens": truth(*EMPTY_MOD),
        "ref_source": truth(*BAD_SOURCE_MOD),
    }
    for check, want in cases.items():
        got = set(viol[viol.check_name == check]["doc_id"])
        # empty_tokens rows also len-mismatch? no: n_tok set to 0 too.
        assert got == want, f"{check}: {len(got)} got vs {len(want)} want"
    # null_doc_id rows have no recoverable id: count parity
    n_null_want = int((((idx % NULL_DOC_MOD[0]) == NULL_DOC_MOD[1]) & ~clean).sum())
    assert (viol.check_name == "null_doc_id").sum() == n_null_want
    res.unpersist()


def test_ensemble_score_zero_mad_guard(spark):
    df = spark.createDataFrame([(1.0, 7.0), (2.0, 7.0), (3.0, 7.0)], ["a", "b"])
    stats = FS.fit_robust_multi(df, ["a", "b"])
    s = df.select(ensemble_score({c: stats[c] for c in ["a", "b"]}).alias("s"))
    vals = [r["s"] for r in s.collect()]
    # b is constant (mad 0 -> contributes 0); a median 2, mad 1
    want = [abs(0.6745 * (x - 2.0)) / 2.0 for x in (1.0, 2.0, 3.0)]
    assert np.allclose(sorted(vals), sorted(want))


def test_spearman_plan_has_no_window(spark):
    rows = [(float(i % 13), float((i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, ["a", "b"])
    m = spearman_matrix(df, ["a", "b"])
    rho = m.collect()[0]["rho"]
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    # spearman = pearson on average ranks (no scipy in this container)
    want = pdf["a"].rank(method="average").corr(pdf["b"].rank(method="average"))
    assert abs(rho - want) < 1e-9
    # scale assertion: ranking must not plan a Window (global sort) —
    # the rank tables are histogram-derived and broadcast-joined
    ranked = df.select("a", "b")
    from autoprepad_spark.operators.correlation import _rank_table
    rt = _rank_table(df, "a").select(F.col("value").alias("a"), F.col("avg_rank"))
    plan = ranked.join(F.broadcast(rt), "a")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_duplicate_rows_hash_matches_key_method(spark):
    """The hash-routed duplicate_rows equals a semi join on the exact
    duplicate keys."""
    from autoprepad_spark.operators.uniqueness import duplicate_keys

    rows = [(f"d{i % 70}", f"p-{i % 4}", i) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "part", "n"])
    got_hash = duplicate_rows(df, "doc_id").toPandas()
    got_key = df.join(
        F.broadcast(duplicate_keys(df).select("doc_id")), "doc_id", "left_semi"
    ).toPandas()
    key = ["doc_id", "part", "n"]
    a = got_hash.sort_values(key).reset_index(drop=True)[key]
    b = got_key.sort_values(key).reset_index(drop=True)[key]
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == 60  # ids 0..29 appear twice -> 60 rows


def test_html_report_sink(spark, tokens_df, dim_df, tmp_path):
    from autoprepad_spark.plans.report import render_report, write_report
    from autoprepad_spark.plans.suite import ValidationSuite

    res = ValidationSuite().run(tokens_df, dim=dim_df)
    html_text = render_report(res, run_id="t1", top_n=5)
    assert "<html>" in html_text and "Per-partition verdicts" in html_text
    assert "unique_doc_id" in html_text and "ref_source" in html_text
    p = tmp_path / "report.html"
    write_report(res, str(p), run_id="t1")
    assert p.read_text().startswith("<!doctype html>")
    res.unpersist()


def test_top_violations_evaluates_the_flag_udf_once(spark, tokens_df, dim_df):
    """The report's severity head runs the flag UDF once per marking
    task (no flag_total Filter for Catalyst to push below it) and returns
    the rows of the Filter-based join."""
    from conftest import plan_shape

    from autoprepad_spark.plans.suite import ValidationSuite

    res = ValidationSuite().run(tokens_df, dim=dim_df)
    n = 10**6  # every violation: ties at a cut would make the rows ambiguous
    top = res.top_violations(n)
    assert plan_shape(top)["Python"] == 1
    sev = res.marked.filter(F.col("flag_total") > 0).select(
        "part", "doc_id", "flag_total"
    )
    want = (
        res.violations.join(sev, ["part", "doc_id"], "left")
        .orderBy(F.desc_nulls_last("flag_total"), "part", "doc_id")
        .limit(n)
    )
    key = lambda r: tuple(str(x) for x in r)  # noqa: E731
    got = sorted(map(tuple, top.collect()), key=key)
    assert got == sorted(map(tuple, want.collect()), key=key)
    assert len(got) == res.violations.count() > 0
    assert any(r[-1] is not None for r in got)
    res.unpersist()


def test_pack_sequences_greedy(spark):
    from autoprepad_spark.operators.packing import chunk_stats, pack_sequences

    rows = [("a", i, ln) for i, ln in enumerate([50, 60, 40, 100, 30])]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n"])
    packed = pack_sequences(
        df, budget=100, len_col="n", group_col="source", order_col="doc_id"
    ).toPandas().sort_values("doc_id")
    # prefix sums before each doc: 0, 50, 110, 150, 250
    assert list(packed["chunk_id"]) == [0, 0, 1, 1, 2]
    assert list(packed["chunk_off"]) == [0, 50, 10, 50, 50]
    assert list(packed["truncated"]) == [0, 0, 0, 0, 0]
    st = chunk_stats(
        pack_sequences(df, budget=100, len_col="n", group_col="source",
                       order_col="doc_id"),
        budget=100, group_col="source", len_col="n",
    ).collect()[0]
    assert st["n_chunks"] == 3 and st["total_len"] == 280
    assert abs(st["fill_ratio"] - 280 / 300) < 1e-12


def test_stream_drift_per_batch(spark, tmp_path):
    from autoprepad_spark import datagen as G
    from autoprepad_spark.operators import drift as DRM
    from autoprepad_spark.streaming.pipeline import DriftStage, stream_pipeline

    base = G.generate_tokens(spark, 15_000, seed=21, n_parts=4)
    baseline = DRM.ntok_histogram(base).cache()
    baseline.count()

    inp = str(tmp_path / "in")
    # batch 1: same distribution; drained, then batch 2: shifted web docs
    G.generate_tokens(spark, 8_000, seed=22, n_parts=4).write.mode(
        "overwrite"
    ).parquet(inp)
    drift_path = str(tmp_path / "drift")

    def drain():
        stream_pipeline(spark, inp, schema=base.schema, checkpoint_dir=str(tmp_path / "ckpt"),
                        drift=DriftStage(baseline, drift_path)).awaitTermination(120)
        return spark.read.parquet(drift_path).toPandas()

    d1 = drain()
    assert set(d1.ingest_batch) == {0}
    assert (d1[d1.source == "web"].psi < 0.1).all()  # same distribution

    G.generate_tokens(
        spark, 8_000, seed=23, n_parts=4, drift_source="web", drift_shift=1.5
    ).write.mode("append").parquet(inp)
    d2 = drain()
    assert d2.ingest_batch.nunique() == 2
    newest = d2[d2.ingest_batch == d2.ingest_batch.max()]
    assert (newest[newest.source == "web"].psi > 0.2).all()  # shift detected
    baseline.unpersist()


def test_suite_empty_input(spark, dim_df):
    from autoprepad_spark.datagen import generate_tokens
    from autoprepad_spark.plans.suite import ValidationSuite

    empty = generate_tokens(spark, 20_000, seed=3, n_parts=4).filter("n_tok < 0")
    res = ValidationSuite().run(empty, dim=dim_df)
    assert res.stats.n_rows == 0
    assert res.violations.count() == 0
    assert res.verdicts.count() == 0  # no partitions -> no verdict grid
    res.unpersist()


def test_fit_robust_grouped_matches_single(spark):
    rows = [("a", float(v)) for v in [1, 2, 3, 4, 100]] + [
        ("b", float(v)) for v in [10, 20, 30]
    ]
    df = spark.createDataFrame(rows, ["g", "x"])
    got = {
        r["g"]: r for r in FS.fit_robust_grouped(df, "x", "g").collect()
    }
    for g in ("a", "b"):
        want = FS.fit_robust(df.filter(F.col("g") == g), "x")
        for fld in ("mean", "std", "q1", "median", "q3", "mad", "vmin", "vmax"):
            assert abs(got[g][fld] - getattr(want, fld)) < 1e-9, (g, fld)


def test_hash_split_disjoint_covering(spark):
    from autoprepad_spark.operators.sampling import (
        deterministic_sample, hash_split,
    )

    df = spark.createDataFrame([(f"d{i}",) for i in range(2000)], ["doc_id"])
    train, val, test = hash_split(df, [0.8, 0.1, 0.1])
    n = [s.count() for s in (train, val, test)]
    assert sum(n) == 2000  # covering
    assert abs(n[0] - 1600) < 100 and abs(n[1] - 200) < 60
    ids = [set(r["doc_id"] for r in s.collect()) for s in (train, val, test)]
    assert not (ids[0] & ids[1]) and not (ids[0] & ids[2]) and not (ids[1] & ids[2])

    # determinism: same selection at different partitioning
    a = set(r["doc_id"] for r in deterministic_sample(df, 0.3).collect())
    b = set(
        r["doc_id"]
        for r in deterministic_sample(df.repartition(13), 0.3).collect()
    )
    assert a == b


def test_suite_approx_quantile_path(spark, tokens_df, dim_df):
    """The percentile_approx (unbounded-domain) fit path must run the
    full suite and produce hard-check violations identical to the exact
    path (statistical flags may differ within sketch tolerance)."""
    from autoprepad_spark.plans.suite import ValidationSuite

    exact = ValidationSuite(exact_quantiles=True).run(tokens_df, dim=dim_df)
    approx = ValidationSuite(exact_quantiles=False).run(tokens_df, dim=dim_df)
    hard = ["null_doc_id", "len_mismatch", "token_oob", "empty_tokens",
            "unique_doc_id", "ref_source"]
    a = exact.verdicts.filter(F.col("check_name").isin(hard)).toPandas()
    b = approx.verdicts.filter(F.col("check_name").isin(hard)).toPandas()
    key = ["part", "check_name"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )
    # statistical flags: sketch quantiles stay close to exact
    sa = exact.verdicts.filter("check_name = 'ntok_tukey'").toPandas()
    sb = approx.verdicts.filter("check_name = 'ntok_tukey'").toPandas()
    m = sa.merge(sb, on=["part", "check_name"], suffixes=("_e", "_a"))
    assert ((m.metric_e - m.metric_a).abs() < 0.05).all()
    exact.unpersist(); approx.unpersist()


def test_resume_with_violation_sink(spark, tokens_df, dim_df, tmp_path):
    """checkpoint resume + parquet violation sink compose: resumed run's
    sink holds only remaining partitions' row-check rows, and verdicts
    match the no-sink resume path."""
    from autoprepad_spark.plans.checkpoint import CheckpointTable
    from autoprepad_spark.plans.suite import ValidationSuite

    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    parts = sorted(p.part for p in tokens_df.select("part").distinct().collect())
    done = parts[:3]
    ck.mark("r", [(p, 0, 0, 0.0) for p in done])

    suite = ValidationSuite()
    with_sink = suite.run(
        tokens_df, dim=dim_df, checkpoint=ck, run_id="r",
        violation_sink=str(tmp_path / "sink"),
    )
    no_sink = suite.run(tokens_df, dim=dim_df, checkpoint=ck, run_id="r")
    key = ["part", "check_name"]
    a = with_sink.verdicts.toPandas().sort_values(key).reset_index(drop=True)
    b = no_sink.verdicts.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert set(a["part"]) == set(parts) - set(done)
    # the sink's row-check rows cover only remaining partitions
    import duckdb
    sunk = duckdb.sql(
        f"select distinct part from '{tmp_path}/sink/*.parquet' "
        "where check_name not in ('unique_doc_id')"
    ).df()
    assert set(sunk["part"]) <= set(parts) - set(done)
    no_sink.unpersist()


def test_stream_running_totals_stateful(spark, tmp_path):
    """applyInPandasWithState: running per-key totals must ACCUMULATE
    across micro-batches (state survives between drains via the
    streaming checkpoint)."""
    from autoprepad_spark import datagen as G
    from autoprepad_spark.streaming.validate import stream_running_totals

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    b1 = G.generate_tokens(spark, 6_000, seed=31, n_parts=4)
    b1.write.mode("overwrite").parquet(inp)

    out_dir = str(tmp_path / "out")

    def drain(name):
        stream = spark.readStream.schema(
            "doc_id string, tokens array<int>, n_tok int, source string, part string"
        ).parquet(inp)

        def sink(bdf, bid):
            bdf.withColumn("batch_id", F.lit(bid)).write.mode("append").parquet(out_dir)

        q = (
            stream_running_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        pdf = spark.read.parquet(out_dir).toPandas()
        # latest emitted running totals per key
        return pdf.sort_values("batch_id").groupby("key").tail(1)

    got1 = drain("srt1")
    want1 = (
        b1.groupBy("source").agg(F.count("n_tok").alias("n"), F.sum("n_tok").alias("t"))
        .toPandas().set_index("source")
    )
    g1 = got1.set_index("key")
    for k in want1.index:
        assert g1.loc[k, "n"] == want1.loc[k, "n"]
        assert g1.loc[k, "total"] == want1.loc[k, "t"]

    # second drop: totals must include BOTH batches (state carried over)
    b2 = G.generate_tokens(spark, 4_000, seed=32, n_parts=4)
    b2.write.mode("append").parquet(inp)
    got2 = drain("srt2")
    both = b1.unionByName(b2)
    want2 = (
        both.groupBy("source").agg(F.count("n_tok").alias("n"), F.sum("n_tok").alias("t"))
        .toPandas().set_index("source")
    )
    g2 = got2.set_index("key")
    for k in want2.index:
        assert g2.loc[k, "n"] == want2.loc[k, "n"]
        assert g2.loc[k, "total"] == want2.loc[k, "t"]


def test_ivf_kmeans_build_recall(spark):
    """pyspark.ml-KMeans-built IVF must beat-or-match the sampled build's
    probe recall against brute force on a small corpus."""
    import numpy as np

    from autoprepad_spark.operators import similarity as SIM

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((300, 16)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<double>",
    ).cache()
    q = df.filter(F.col("vec_id") < 8)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(df, q, k=3).collect()
    }

    def recall(method):
        assigned, cents = SIM.ivf_build(df, n_cells=6, seed=1, method=method)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.ivf_topk(assigned, cents, q, k=3, nprobe=3).collect()
        }
        return len(got & truth) / len(truth)

    r_sample, r_kmeans = recall("sample"), recall("kmeans")
    assert r_kmeans >= 0.6 and r_sample >= 0.4
    assert r_kmeans >= r_sample - 0.15  # kmeans cells at least comparable


def test_suite_check_subset_and_metrics(spark, tokens_df, dim_df):
    from autoprepad_spark.plans.suite import ValidationSuite

    res = ValidationSuite(
        checks=["null_doc_id", "token_oob", "ref_source"]
    ).run(tokens_df, dim=dim_df)
    got_checks = set(r["check_name"] for r in res.verdicts.select("check_name").distinct().collect())
    assert got_checks == {"null_doc_id", "token_oob", "ref_source"}
    viol_checks = set(r["check_name"] for r in res.violations.select("check_name").distinct().collect())
    assert viol_checks <= got_checks
    # excluded uniqueness: no duplicate-key shuffle branch in the plan
    assert res.metrics["n_partitions"] == 8
    assert res.metrics["n_violation_rows"] == res.violations.count()
    res.unpersist()

    with pytest.raises(ValueError, match="unknown checks"):
        ValidationSuite(checks=["nope"]).run(tokens_df, dim=dim_df)


def test_asof_join_semantics(spark):
    from autoprepad_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u1", 5, "c"), ("u2", 10, "d")],
        ["user", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [("u1", 7, 70.0), ("u1", 10, 100.0), ("u1", 15, 150.0), ("u3", 1, 1.0)],
        ["user", "ts", "v"],
    )
    out = {
        r["tag"]: r["v_asof"]
        for r in asof_join(
            left, right, on="user", ts_col="ts", value_cols=["v"]
        ).collect()
    }
    # ts=10 sees the equal-timestamp right row (>= semantics); ts=5 none
    assert out == {"a": 100.0, "b": 150.0, "c": None, "d": None}


def test_sessionize_gap_semantics(spark):
    from autoprepad_spark.operators.asof import sessionize

    rows = [
        ("u1", "2024-01-01 00:00:00", 1),
        ("u1", "2024-01-01 00:10:00", 2),   # same session (10 min)
        ("u1", "2024-01-01 01:00:00", 3),   # 50 min gap -> new session
        ("u1", "2024-01-01 01:20:00", 4),
        ("u2", "2024-01-01 00:00:00", 5),
    ]
    df = spark.createDataFrame(rows, ["u", "ts", "eid"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["eid"]: r["session_idx"]
        for r in sessionize(
            df, key_col="u", ts_col="ts", gap_seconds=1800, tiebreak="eid"
        ).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_pr_sweep_continuous_score_bounded(spark):
    """A continuous score (one distinct double per row) must take the
    quantized-histogram path: bounded driver state, near-exact sweep."""
    import numpy as np

    from autoprepad_spark.operators.evaluation import pr_sweep

    n = 100_000
    df = spark.range(n).select(
        F.col("id"),
        (F.rand(seed=5) * 100.0).alias("score"),
        (F.col("id") % 97 == 0).cast("int").alias("y"),
    ).cache()
    n_pos = df.filter(F.col("y") == 1).count()
    out = pr_sweep(
        df, "score", F.col("y"), max_score_cells=1_000
    ).orderBy("pct").collect()
    assert len(out) == 100
    thr = [r["threshold"] for r in out]
    assert thr == sorted(thr)  # thresholds monotone in pct
    for r in out:
        # tp+fn is the positive count, invariant to the threshold; the
        # quantized path may misplace rows within one bin width at the
        # boundary, so allow that tolerance on the partition
        assert r["tp"] + r["fn"] == n_pos
    # uniform score: threshold at pct p ~= p (bin-width tolerance 0.01*100)
    assert abs(out[49]["threshold"] - 50.0) < 1.0
    df.unpersist()


def test_pr_sweep_exact_path_unchanged(spark):
    """Bounded integer scores still take the exact path — results match
    a hand-computed confusion at a known threshold."""
    from autoprepad_spark.operators.evaluation import pr_sweep

    rows = [(i, float(i % 4), 1 if i % 4 == 3 else 0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["id", "score", "y"])
    out = {r["pct"]: r for r in pr_sweep(df, "score", F.col("y")).collect()}
    # pct=50 -> threshold 1.5 (quantile of 0,1,2,3 repeated); score>1.5
    # keeps classes {2,3}: tp=250, fp=250, fn=0
    r = out[50]
    assert r["tp"] == 250 and r["fp"] == 250 and r["fn"] == 0
    assert r["recall"] == 1.0


def test_mahalanobis_matches_numpy(spark):
    """Distributed sufficient-stats fit + expression scoring must match
    a straight numpy Mahalanobis on the same data."""
    import numpy as np

    from autoprepad_spark.operators.scoring import (
        fit_mahalanobis,
        mahalanobis_score,
    )

    rng = np.random.default_rng(13)
    x = rng.normal(size=(500, 3)) @ np.array(
        [[1.0, 0.4, 0.0], [0.0, 1.0, 0.3], [0.0, 0.0, 1.0]]
    )
    df = spark.createDataFrame(
        [(i, float(r[0]), float(r[1]), float(r[2])) for i, r in enumerate(x)],
        ["id", "a", "b", "c"],
    )
    mu, inv = fit_mahalanobis(df, ["a", "b", "c"])
    got = (
        df.select("id", mahalanobis_score(["a", "b", "c"], mu, inv).alias("s"))
        .orderBy("id")
        .toPandas()["s"]
        .to_numpy()
    )
    mu_np = x.mean(axis=0)
    inv_np = np.linalg.inv(np.cov(x, rowvar=False, ddof=1))
    d = x - mu_np
    want = np.sqrt(np.einsum("ij,jk,ik->i", d, inv_np, d))
    assert np.allclose(got, want, atol=1e-9)


def test_regression_impute_fills_with_ols(spark):
    """One-round regression imputation: nulls get the OLS prediction
    fitted on complete rows; observed rows pass through untouched."""
    import numpy as np

    from autoprepad_spark.functions.nulls import regression_impute

    rng = np.random.default_rng(17)
    xs = rng.uniform(0, 10, size=300)
    ys = 3.0 * xs + 5.0 + rng.normal(scale=0.5, size=300)
    rows = [
        (i, float(xs[i]), None if i % 10 == 0 else float(ys[i]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    out = regression_impute(df, "y", ["x"]).orderBy("id").toPandas()
    mask = np.arange(300) % 10 == 0
    # observed rows untouched
    assert np.allclose(out["y"][~mask], ys[~mask])
    # imputed rows equal the numpy OLS prediction on complete rows
    X = np.column_stack([np.ones((~mask).sum()), xs[~mask]])
    beta = np.linalg.lstsq(X, ys[~mask], rcond=None)[0]
    want = beta[0] + beta[1] * xs[mask]
    assert np.allclose(out["y"][mask], want, atol=1e-6)


def test_stream_dedup_suppresses_rearrivals(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on the content hash: the
    second arrival of identical (normalized) text within the horizon is
    dropped; distinct texts all pass."""
    from datetime import datetime

    from autoprepad_spark.streaming.validate import stream_dedup

    inp = str(tmp_path / "in")
    rows = [
        (1, "the quick brown fox", datetime(2026, 1, 1, 10, 0, 0)),
        (2, "The  quick   BROWN fox ", datetime(2026, 1, 1, 10, 1, 0)),  # dup after normalize
        (3, "an entirely different doc", datetime(2026, 1, 1, 10, 2, 0)),
        (4, "the quick brown fox", datetime(2026, 1, 1, 10, 3, 0)),  # dup again
        (5, "yet another doc", datetime(2026, 1, 1, 10, 4, 0)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(inp)
    out_dir = str(tmp_path / "out")
    q = (
        stream_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    # one survivor per content hash; engine keeps an arbitrary-but-single one
    assert len(got) == 3
    assert 3 in got and 5 in got
    assert len(got & {1, 2, 4}) == 1
