"""Experiment/eval harness — quality metrics of predicted anomaly labels
against injected ground truth.

Reference parity (/root/reference/pipelines/experiment/experiment.py):
* inject labeled anomalies, predict, OR-merge statistical flags into the
  prediction (:441-445, np.where — J5), then precision / recall / F1 at
  the default 10% threshold (:459-539, sklearn metrics over the joined
  y_true/y_pred frames — J1 index-aligned join becomes a key join here)
* the 1..100% PR sweep (:394-405) — per-percentile thresholds over the
  score distribution, each yielding its own confusion counts.

Scale shape: a confusion matrix is ONE wide aggregation of conditional
sums (no join when y_true/y_pred are expressions over the same rows;
when they live in different tables, broadcast-join first). The full
100-point sweep is still ONE pass: thresholds derive from the score's
value-count histogram driver-side, then a single agg computes 100
(tp, fp, fn) triples as conditional sums — no 100x row blowup, no
per-threshold jobs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from autoprepad_spark.operators.profile import weighted_quantiles


def or_merge(pred: Column, *stat_flags: Column) -> Column:
    """J5 verdict merge (experiment.py:441-445): any statistical flag
    forces the prediction to 1, else the model prediction stands."""
    cond = stat_flags[0] == 1
    for f in stat_flags[1:]:
        cond = cond | (f == 1)
    return F.when(cond, F.lit(1)).otherwise(pred).cast("int")


def confusion(df: DataFrame, y_true: Column, y_pred: Column) -> DataFrame:
    """One-row (tp, fp, fn, tn, precision, recall, f1) from ONE agg."""
    t = y_true.cast("int")
    p = y_pred.cast("int")
    agg = df.agg(
        F.sum(((t == 1) & (p == 1)).cast("long")).alias("tp"),
        F.sum(((t == 0) & (p == 1)).cast("long")).alias("fp"),
        F.sum(((t == 1) & (p == 0)).cast("long")).alias("fn"),
        F.sum(((t == 0) & (p == 0)).cast("long")).alias("tn"),
    )
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    f1 = F.when(
        prec + rec > 0, 2 * prec * rec / (prec + rec)
    ).otherwise(F.lit(0.0))
    return agg.select(
        "tp", "fp", "fn", "tn",
        prec.cast("double").alias("precision"),
        rec.cast("double").alias("recall"),
        f1.cast("double").alias("f1"),
    )


#: joint-histogram cell ceiling for pr_sweep/predict: above this the
#: score is treated as continuous and quantized (bounded driver state).
MAX_SCORE_CELLS = 100_000
QUANT_BINS = 10_000


def quantized_score_hist(
    df: DataFrame,
    score_col: str,
    y_true: Column | None,
    *,
    max_cells: int = MAX_SCORE_CELLS,
    bins: int = QUANT_BINS,
) -> list:
    """Joint (score [, label]) value-count histogram with bounded driver
    state: exact for bounded score domains (the integer flag-count case),
    quantized to ``bins`` uniform buckets when the domain is continuous.

    Action shape (round 4): the bounded case — the common one (integer
    flag counts, a handful of cells) — is ONE action: ``LIMIT
    max_cells+1`` rides the collecting action itself, so per-partition
    localLimit bounds every task's output and nothing oversized ever
    reaches the driver (same measured-~free pattern as
    stats._col_histograms; BENCH/BASELINE.md). Only when the probe
    proves the domain continuous (> max_cells cells) does the quantized
    fallback run: the exact joint histogram is then persisted on the
    executors (memory-and-disk — spills instead of OOMing), and min/max
    plus the ``bins``-bucket rollup are tiny aggs over the cached cells.
    The quantized fallback represents each bucket by its midpoint, so
    downstream percentile thresholds carry a documented tolerance of
    (max-min)/bins."""
    s = F.col(score_col).cast("double")
    keys = [s.alias("_s")] + ([y_true.cast("int").alias("_y")] if y_true is not None else [])
    base = df.filter(s.isNotNull())
    hist = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    probe = hist.limit(max_cells + 1).collect()
    if len(probe) <= max_cells:
        return probe
    cached = hist.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        lo, hi = cached.agg(F.min("_s"), F.max("_s")).collect()[0]
        width = (hi - lo) / bins if hi > lo else 1.0
        bucket = F.least(
            F.floor((F.col("_s") - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
        )
        mid = (F.lit(lo) + (bucket + 0.5) * F.lit(width)).alias("_s")
        keys = [mid] + ([F.col("_y")] if y_true is not None else [])
        return (
            cached.groupBy(*keys).agg(F.sum("_n").alias("_n")).collect()
        )
    finally:
        cached.unpersist()


def pr_sweep(
    df: DataFrame,
    score_col: str,
    y_true: Column,
    *,
    pcts: list[int] | None = None,
    max_score_cells: int = MAX_SCORE_CELLS,
) -> DataFrame:
    """(pct, threshold, tp, fp, fn, precision, recall, f1) per percentile.

    experiment.py:394-405 ran one np.percentile + metric pass per point;
    here thresholds come from one score histogram and all points' counts
    from ONE conditional-sum aggregation (labels use the reference's
    strict ``score > threshold``, runs.py:211-214).

    Exact for bounded score domains; a CONTINUOUS score (e.g.
    ensemble_score) is quantized to uniform buckets first — see
    quantized_score_hist — keeping driver state bounded at any row count.
    """
    pcts = pcts or list(range(1, 101))
    # ONE tiny joint (score, label) histogram carries the whole sweep:
    # every threshold's confusion counts are partial sums over it, so the
    # aggregation is a plain |score domain| x 2 hash agg however many
    # sweep points are asked for — no N-threshold conditional-sum agg
    # (300 generated aggregate expressions measured ~3s of codegen alone).
    joint = quantized_score_hist(df, score_col, y_true, max_cells=max_score_cells)
    s = np.array([r["_s"] for r in joint], dtype=np.float64)
    y = np.array([r["_y"] for r in joint], dtype=np.int64)
    n = np.array([r["_n"] for r in joint], dtype=np.int64)
    if s.size:
        # score marginal for the percentile thresholds
        uniq, inv = np.unique(s, return_inverse=True)
        marg = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(marg, inv, n)
        thresholds = weighted_quantiles(uniq, marg, [p / 100.0 for p in pcts])
    else:
        thresholds = [0.0] * len(pcts)

    out = []
    for pct, thr in zip(pcts, thresholds):
        pos = s > thr
        tp = int(n[pos & (y == 1)].sum())
        fp = int(n[pos & (y == 0)].sum())
        fn = int(n[~pos & (y == 1)].sum())
        prec = tp / max(tp + fp, 1)
        rec = tp / max(tp + fn, 1)
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        out.append((pct, float(thr), tp, fp, fn, prec, rec, f1))
    return df.sparkSession.createDataFrame(
        out,
        "pct int, threshold double, tp long, fp long, fn long, "
        "precision double, recall double, f1 double",
    )
