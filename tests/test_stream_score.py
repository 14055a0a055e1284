"""Streaming anomaly scoring (a score-only ``stream_pipeline``):
batch-fitted PCA model applied to a parquet file stream — parity with
the batch scorer, thresholded alerting, checkpointed no-reprocessing,
and incremental drains of newly arrived files.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from autoprepad_spark.operators import spectral as SP
from autoprepad_spark.streaming.pipeline import ScoreStage, stream_pipeline

DIM = 8
SCHEMA = "vec_id long, embedding array<double>"


#: one FIXED basis for train and arriving data — the streaming scorer's
#: premise is that new batches live in the trained subspace unless
#: anomalous, so only the sample points vary by seed
_BASIS = np.linalg.qr(np.random.default_rng(0).normal(size=(DIM, DIM)))[0]


def _cloud(n, seed, outliers=0):
    """Low-rank cloud in the shared basis; optional off-subspace
    outliers at the end."""
    rng = np.random.default_rng(seed)
    scales = np.array([8.0, 5.0] + [0.05] * (DIM - 2))
    pts = (rng.normal(size=(n, DIM)) * scales) @ _BASIS.T
    for i in range(outliers):
        pts[n - 1 - i] += 20.0 * _BASIS[:, -1]
    return pts


def _score_stream(spark, inp, *, schema, checkpoint_dir, **stage):
    """A score-only pipeline; ``stage`` holds the ScoreStage fields."""
    return stream_pipeline(spark, inp, schema=schema, checkpoint_dir=checkpoint_dir,
                           score=ScoreStage(**stage))


def _df(spark, vecs, id0=0):
    return spark.createDataFrame(
        [(id0 + i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        SCHEMA,
    )


def test_stream_score_matches_batch_and_alerts(spark, tmp_path):
    train = _cloud(300, seed=1)
    model = SP.fit_pca(_df(spark, train), k=2, dim=DIM)
    # fitted threshold: generous multiple of the train p99 residual
    train_scores = [
        r["s"]
        for r in _df(spark, train)
        .select(SP.pca_score_udf(model)(F.col("embedding")).alias("s"))
        .collect()
    ]
    threshold = float(np.quantile(train_scores, 0.99)) * 3

    arriving = _cloud(100, seed=2, outliers=3)
    inp = str(tmp_path / "in")
    _df(spark, arriving, id0=1000).write.mode("overwrite").parquet(inp)

    paths = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        scored_path=str(tmp_path / "scored"),
        alert_path=str(tmp_path / "alerts"),
    )
    q = _score_stream(
        spark, inp, schema=SCHEMA,
        score=SP.pca_score_udf(model)(F.col("embedding")),
        threshold=threshold, keep_cols=["vec_id"], **paths,
    )
    q.awaitTermination(120)

    scored = spark.read.parquet(paths["scored_path"])
    assert scored.count() == 100
    assert set(scored.columns) == {"vec_id", "anomaly_score", "ingest_batch"}
    # parity with the batch expression (same model, same rows)
    batch = {
        r["vec_id"]: r["s"]
        for r in _df(spark, arriving, id0=1000)
        .select("vec_id", SP.pca_score_udf(model)(F.col("embedding")).alias("s"))
        .collect()
    }
    for r in scored.collect():
        assert r["anomaly_score"] == pytest.approx(batch[r["vec_id"]], rel=1e-12)

    # exactly the 3 engineered outliers alert
    alerts = spark.read.parquet(paths["alert_path"])
    assert {r["vec_id"] for r in alerts.collect()} == {1097, 1098, 1099}

    # re-drain with no new files: checkpoint prevents reprocessing
    q2 = _score_stream(
        spark, inp, schema=SCHEMA,
        score=SP.pca_score_udf(model)(F.col("embedding")),
        threshold=threshold, keep_cols=["vec_id"], **paths,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(paths["scored_path"]).count() == 100

    # new clean files arrive -> scored, no new alerts
    _df(spark, _cloud(50, seed=3), id0=2000).write.mode("append").parquet(inp)
    q3 = _score_stream(
        spark, inp, schema=SCHEMA,
        score=SP.pca_score_udf(model)(F.col("embedding")),
        threshold=threshold, keep_cols=["vec_id"], **paths,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(paths["scored_path"]).count() == 150
    assert spark.read.parquet(paths["alert_path"]).count() == 3


def test_stream_score_guards(spark, tmp_path):
    with pytest.raises(ValueError, match="set together"):
        _score_stream(
            spark, str(tmp_path / "x"), schema=SCHEMA,
            score=F.lit(0.0), threshold=1.0, alert_path=None,
            checkpoint_dir=str(tmp_path / "c"),
            scored_path=str(tmp_path / "s"),
        )


def test_stream_score_replay_overwrites_not_duplicates(spark, tmp_path):
    """Crash-replay semantics: each sink writes its batch's
    ``ingest_batch=<id>`` directory in overwrite mode, so reprocessing
    the same files (checkpoint lost = worst case) REPLACES each batch
    partition instead of appending duplicates."""
    import shutil

    arriving = _cloud(60, seed=4)
    inp = str(tmp_path / "in")
    _df(spark, arriving).write.mode("overwrite").parquet(inp)
    paths = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        scored_path=str(tmp_path / "scored"),
    )
    model = SP.fit_pca(_df(spark, _cloud(200, seed=1)), k=2, dim=DIM)
    for _ in range(2):
        q = _score_stream(
            spark, inp, schema=SCHEMA,
            score=SP.pca_score_udf(model)(F.col("embedding")),
            keep_cols=["vec_id"], **paths,
        )
        q.awaitTermination(120)
        shutil.rmtree(paths["checkpoint_dir"])  # simulate lost checkpoint
        assert spark.read.parquet(paths["scored_path"]).count() == 60


def test_stream_score_replay_with_no_rows_empties_partition(spark, tmp_path):
    """A replay whose result is empty still replaces the batch's
    partition: alerts raised by the first attempt do not survive a
    replay whose threshold raises none."""
    import os
    import shutil

    inp = str(tmp_path / "in")
    _df(spark, _cloud(60, seed=4)).write.mode("overwrite").parquet(inp)
    paths = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        scored_path=str(tmp_path / "scored"),
        alert_path=str(tmp_path / "alerts"),
    )
    for threshold, alerts in ((29.5, 30), (1e9, 0)):
        shutil.rmtree(paths["checkpoint_dir"], ignore_errors=True)
        q = _score_stream(spark, inp, schema=SCHEMA,
                          score=F.col("vec_id").cast("double"),
                          threshold=threshold, keep_cols=["vec_id"], **paths)
        q.awaitTermination(120)
        assert spark.read.parquet(paths["alert_path"]).count() == alerts
    assert os.listdir(paths["alert_path"]) == ["ingest_batch=0"]
    assert spark.read.parquet(paths["scored_path"]).count() == 60


def test_stream_score_empty_keep_cols_means_no_passthrough(spark, tmp_path):
    """keep_cols=[] is 'no passthrough columns', not 'all columns'."""
    inp = str(tmp_path / "in")
    _df(spark, _cloud(10, seed=6)).write.mode("overwrite").parquet(inp)
    model = SP.fit_pca(_df(spark, _cloud(50, seed=1)), k=2, dim=DIM)
    q = _score_stream(
        spark, inp, schema=SCHEMA,
        score=SP.pca_score_udf(model)(F.col("embedding")),
        keep_cols=[], checkpoint_dir=str(tmp_path / "c"),
        scored_path=str(tmp_path / "s"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "s"))
    assert set(out.columns) == {"anomaly_score", "ingest_batch"}
    assert out.count() == 10
