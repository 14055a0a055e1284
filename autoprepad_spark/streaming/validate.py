"""Structured Streaming surface: incremental validation of arriving token
files + windowed streaming profiles.

The reference is strictly batch (SURVEY.md §2.8) and the north rule is
resumable batch, so streaming is an ADDITIVE capability: the same
constraint suite applied incrementally as new Iceberg snapshots / parquet
files land, with exactly-once sink semantics from the streaming
checkpoint.

Design:

* ``stream_validate`` — ``readStream`` over the token table directory ->
  ``foreachBatch``. Each micro-batch applies TRAIN-FITTED stats (the
  reference's fit-then-predict split: pipelines/runs.py:139-198 applies
  train statistics to test data) through the same Arrow-UDF marking pass
  as batch, and writes violation rows and per-(batch, part) verdicts to
  parquet sinks partitioned by ``batch_id`` with dynamic partition
  overwrite. The batch body is ``stream_pipeline``'s validate stage
  (``pipeline._validate_batch``), so the two sinks are written
  concurrently. ``Trigger.AvailableNow`` drains the backlog and stops —
  the scheduled-incremental-validation mode; omit it for continuous.
  State: none (marking is a pure map) — the checkpoint's file-source
  log resumes a killed job at the last unfinished batch, and a batch
  replayed after a crash (or a drain from a fresh checkpoint) replaces
  its own ``batch_id`` partitions instead of duplicating sink rows.
* ``stream_profile`` — pure streaming aggregation: event-time windowed
  per-source counts/null-rates with a watermark for late data. Uses
  native windowed aggs (partial+final, mergeable state store) — the
  streaming analog of the profile pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from autoprepad_spark.operators.profile import ProfileStats
from autoprepad_spark.plans.suite import allowed_sources
from autoprepad_spark.schema import TOKENS_SCHEMA
from autoprepad_spark.streaming.pipeline import ValidateStage, _sink, _validate_batch


def stream_validate(
    spark: SparkSession,
    input_path: str,
    *,
    stats: ProfileStats,
    checkpoint_dir: str,
    verdict_path: str,
    violation_path: str,
    dim: DataFrame | None = None,
    vocab_size: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the incremental validator; returns the StreamingQuery.

    Uniqueness is intentionally NOT evaluated per-batch (a global property
    cannot be decided on a file subset); run the batch suite for it.
    """
    reader = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        .parquet(input_path)
    )

    stage = ValidateStage(stats, verdict_path, violation_path, dim, vocab_size)
    allowed = None if dim is None else allowed_sources(dim)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            _validate_batch(stage, allowed, batch_df, batch_id, "batch_id")
        finally:
            batch_df.unpersist()

    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_drift(
    spark: SparkSession,
    input_path: str,
    *,
    baseline_hist: DataFrame,
    checkpoint_dir: str,
    drift_path: str,
    bucket_width: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Per-micro-batch distribution-drift monitor; returns the query.

    Each arriving batch's per-source n_tok histogram is compared against
    the CHECKPOINTED baseline profile (PSI + chi², the batch drift
    operator reused verbatim), and one drift row per (batch, source) is
    written to the ``batch_id`` partition of the drift sink (dynamic
    overwrite: a replayed batch replaces its rows) — the streaming shape
    of the reference's fit-on-train/compare-on-test split. The per-batch
    state is only the |sources| x |buckets| histogram (mergeable hash
    agg), so batch size doesn't change the memory footprint.
    """
    from autoprepad_spark.operators import drift as drift_mod

    width = bucket_width or drift_mod.DEFAULT_BUCKET_WIDTH
    reader = (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = drift_mod.ntok_histogram(batch_df, bucket_width=width)
        _sink(drift_mod.drift(baseline_hist, cur), drift_path, batch_id, "batch_id")

    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_running_totals(
    events: DataFrame,
    *,
    key_col: str = "source",
    value_col: str = "n_tok",
):
    """Custom STATEFUL streaming operator (applyInPandasWithState): live
    per-key running totals across micro-batches.

    Unlike the windowed aggs in stream_profile (engine-managed state),
    this keeps arbitrary user state — here (n, total, vmin, vmax) per
    key — and re-emits the updated running profile each batch: the shape
    for custom accumulators the built-in operators can't express
    (decayed counters, model state, cross-batch invariants). State is
    constant-size per key and checkpoint-recovered, so an unbounded
    stream holds |keys| state rows total.

    Returns the transformed streaming frame; caller attaches a sink with
    outputMode("update").
    """
    import pandas as pd  # noqa: F811

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total", T.LongType()),
            T.StructField("vmin", T.LongType()),
            T.StructField("vmax", T.LongType()),
            T.StructField("mean", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.LongType()),
            T.StructField("vmin", T.LongType()),
            T.StructField("vmax", T.LongType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        n, total, vmin, vmax = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            v = pdf[value_col].dropna()
            if len(v):
                n += int(len(v))
                total += int(v.sum())
                bmin, bmax = int(v.min()), int(v.max())
                vmin = bmin if vmin is None else min(vmin, bmin)
                vmax = bmax if vmax is None else max(vmax, bmax)
        state.update((n, total, vmin, vmax))
        yield pd.DataFrame(
            [[key[0], n, total, vmin, vmax, total / max(n, 1)]],
            columns=[f.name for f in out_schema.fields],
        )

    return (
        events.select(F.col(key_col).cast("string").alias("key"), value_col)
        .groupBy("key")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_profile(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "source",
    value_col: str = "n_tok",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time windowed profile over a streaming DataFrame.

    Returns the transformed streaming frame; caller attaches a sink. The
    agg is fully mergeable (counts/sums/min/max) so state per (window,
    key) is constant-size — safe for unbounded streams; the watermark
    bounds state retention for late data.
    """
    v = F.col(value_col).cast("double")
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.isnull(v).cast("long")).alias("n_null"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.avg(v).alias("mean_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_rows",
            "n_null",
            "min_value",
            "max_value",
            "mean_value",
        )
    )


def stream_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming EXACT dedup: emit each normalized-content hash once,
    suppressing re-arrivals within the watermark horizon.

    The batch dedup family (operators/dedup.py) answers "which docs are
    duplicates"; a streaming ingest pipeline instead needs "drop the
    copy as it ARRIVES". dropDuplicatesWithinWatermark keys the
    engine-managed state store on the 16-byte content hash — state is
    bounded by the watermark horizon (expired keys are evicted), which
    is the only sound unbounded-stream semantics: an unbounded exact
    dedup would otherwise hold every hash ever seen. Duplicates farther
    apart than the horizon are the batch backfill's job (the standard
    lambda split). The content hash reuses the SAME normalize_text
    canonicalization as batch dedup, so stream + backfill agree on what
    "identical" means.

    Returns the deduplicated streaming frame (original columns); attach
    any sink with outputMode("append").
    """
    from autoprepad_spark.operators.dedup import normalize_text

    hashed = docs.withColumn("_text_hash", F.md5(normalize_text(text_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_text_hash"])
        .drop("_text_hash")
    )


def stream_dedup_against_index(
    spark: SparkSession,
    input_path: str,
    *,
    schema: T.StructType,
    index_path: str,
    kept_path: str,
    dropped_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    bands: int = 8,
    threshold: float = 0.8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming ingest dedup against the PERSISTED sketch index — the
    streaming face of operators/incremental.py: each micro-batch of
    arriving docs is (1) exact-deduped within the batch (keep-first by
    id), (2) deduped against everything ever accepted via
    ``dedup_against_index`` (one content-hash anti-join + band-bucket
    lookup — the historical text is never read), and (3) the kept rows'
    (doc_id, content_hash, sig) rows are appended to the index, so the
    NEXT batch sees them as history. Near-dups that arrive within one
    batch are intentionally both kept (intra-batch near-dedup would be
    the full batch pipeline; they are caught if either text re-arrives
    later) — the standard lambda split, same as ``stream_dedup``'s
    watermark horizon note.

    Restart safety / idempotence: every sink (kept docs, dropped audit,
    index rows) is hive-partitioned by ``ingest_batch`` and written
    with dynamic partition overwrite, so a batch replayed after a crash
    OVERWRITES its own partition instead of duplicating it; the index
    read EXCLUDES the current batch's partition, so a replayed batch
    never sees its own half-written output as history (partition
    pruning makes both properties metadata-level). Seed the index by
    writing ``build_dedup_index(corpus)`` under ``ingest_batch=-1``
    (see ``seed_index``).

    At scale the index read is columnar and partition-pruned; its band
    buckets rebuild per batch as a pure expression over ``sig`` —
    kilobytes per historical doc, no text. Returns the StreamingQuery.
    """
    from pyspark.sql import Window as W

    from autoprepad_spark.operators import incremental as INC
    from autoprepad_spark.sources.tables import list_names

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        .parquet(input_path)
    )
    index_schema = T.StructType(
        [
            T.StructField("doc_id", schema[id_col].dataType),
            T.StructField("content_hash", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if any(
            d.startswith("ingest_batch=") for d in list_names(spark, index_path)
        ):
            idx = (
                spark.read.parquet(index_path)
                .filter(F.col("ingest_batch") != batch_id)
                .select(*INC.INDEX_COLS)
            )
        else:
            idx = spark.createDataFrame([], index_schema)
        # intra-batch exact keep-first (deterministic: smallest id wins)
        hashed = batch_df.withColumn("_ch", INC.content_hash(text_col))
        rn = F.row_number().over(W.partitionBy("_ch").orderBy(id_col))
        uniq = (
            hashed.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
        )
        in_batch_dropped = (
            hashed.withColumn("_rn", rn)
            .filter(F.col("_rn") > 1)
            .select(
                F.col(id_col).alias("doc_id"),
                F.lit("exact_in_batch").alias("reason"),
                # typed as the id column: matches dedup_against_index's
                # dropped schema for long AND string ids
                F.lit(None).cast(schema[id_col].dataType).alias("matched_id"),
                F.lit(None).cast("double").alias("est_jaccard"),
            )
        )
        uniq = uniq.drop("_ch").cache()

        def kept_sink(kept: DataFrame) -> None:
            kept = kept.cache()
            _sink(
                kept.select(F.col(id_col).alias("doc_id"), "content_hash", "sig"),
                index_path,
                batch_id,
            )
            _sink(kept.drop("content_hash", "sig"), kept_path, batch_id)
            kept.unpersist()

        def dropped_sink(dropped: DataFrame) -> None:
            _sink(dropped.unionByName(in_batch_dropped), dropped_path, batch_id)

        try:
            # run_shard_dedup owns intermediate persistence: signatures
            # and near-verdicts compute once across the two sinks
            INC.run_shard_dedup(
                uniq,
                idx,
                kept_sink=kept_sink,
                dropped_sink=dropped_sink,
                text_col=text_col,
                id_col=id_col,
                k_shingle=k_shingle,
                num_hashes=num_hashes,
                seed=seed,
                bands=bands,
                threshold=threshold,
            )
        finally:
            uniq.unpersist()

    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def seed_index(index: DataFrame, index_path: str) -> None:
    """Persist an initial history (e.g. build_dedup_index over the
    existing corpus) in the layout stream_dedup_against_index reads:
    hive-partitioned under ingest_batch=-1."""
    (
        index.withColumn("ingest_batch", F.lit(-1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
        .parquet(index_path)
    )
