"""Streaming anomaly scoring: apply a batch-fitted scorer to a file
stream with thresholded alerting.

The streaming half of the reference's fit/predict split
(pipelines/control.py:139-204 — fit on a training frame, predict on
arriving data): every scorer in this engine ships its fitted state as
plan literals inside a Column expression or Arrow UDF (robust-Z
ensemble `scoring.ensemble_score`, Mahalanobis
`scoring.mahalanobis_score`, PCA reconstruction error
`spectral.pca_score_udf`), so streaming inference is the SAME
expression applied per micro-batch — no model server, no per-row
Python beyond the vectorized UDF, and replay idempotence comes from
the checkpoint exactly as in stream_validate.

Scale shape: stateless per-batch projection + filter; the only state
is the source-file checkpoint. Alerts are the thresholded subset
written to their own sink so downstream consumers tail a small table,
not the full scored firehose.

The batch body is ``stream_pipeline``'s score stage
(``pipeline._score_batch``): the scored and alert sinks are written
concurrently from one cached projection.

Restart safety: both sinks are hive-partitioned by ``batch_id`` and
written with dynamic partition OVERWRITE (the streaming-wide sink,
pipeline._sink) — a batch replayed after a crash between the write and
the checkpoint commit overwrites its own partition instead of
duplicating rows or re-firing alerts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

from autoprepad_spark.streaming.pipeline import ScoreStage, _score_batch


def stream_score(
    spark: SparkSession,
    input_path: str,
    *,
    schema: StructType | str,
    score: Column,
    checkpoint_dir: str,
    scored_path: str,
    alert_path: str | None = None,
    threshold: float | None = None,
    keep_cols: list[str] | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming scorer; returns the StreamingQuery.

    score: a fitted scorer Column (see module docstring) evaluated over
    the stream's columns. threshold + alert_path: rows with
    score > threshold are ALSO appended to the alert sink (the
    reference's top-k% label becomes a fixed fitted threshold here —
    a per-batch quantile would alert relative to each batch's own
    distribution, which is not what a monitor wants; fit the threshold
    batch-side, e.g. from functions/stats.py percentiles, and pass it).
    keep_cols: projection for both sinks (defaults to all columns);
    `anomaly_score` and `batch_id` are appended to it.
    """
    stage = ScoreStage(score, scored_path, alert_path, threshold, keep_cols)
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _score_batch(stage, batch_df, batch_id, "batch_id")

    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
