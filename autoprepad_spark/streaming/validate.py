"""Stream-frame transforms: operators that take a streaming DataFrame
and return one, for the caller to attach a sink to.

The reference is strictly batch (SURVEY.md §2.8), so streaming is an
ADDITIVE capability. Checks over arriving files (dedup against the
persisted index, train-fitted validation, scoring, drift) are stages of
the one file-stream engine, ``streaming/pipeline.stream_pipeline``.
What lives here needs Spark's state store instead of a per-batch body:

* ``stream_running_totals`` — custom stateful per-key running totals
  (``applyInPandasWithState``);
* ``stream_profile`` — event-time windowed per-source counts and null
  rates with a watermark for late data: native windowed aggs (partial
  + final, mergeable state), the streaming analog of the profile pass;
* ``stream_dedup`` — watermarked exact dedup of re-arrivals on the
  normalized content hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T


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
