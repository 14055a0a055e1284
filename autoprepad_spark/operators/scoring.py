"""Per-row anomaly scoring — the reference's ``predict()`` output
contract, composed from the engine's deterministic constraint flags.

Reference parity (/root/reference/pipelines/runs.py:198-222, 408-438):
* ``AnomalyScore`` — the raw per-row score MinMax-rescaled to 0-1
  (runs.py:200-201 refits the scaler on the scored frame; scores are
  relatively comparable within a run, a documented reference quirk)
* ``AnomalyLabel`` — 1 for rows with score ABOVE the (1-pct) percentile
  of the run's scores (strict ``>``, runs.py:211-214; default pct=0.1
  from control.py:98)
* ``MAD_Total`` / ``Tukey_Total`` — per-family flag counts copied into
  the output (runs.py:408-438)
* severity sort desc by (AnomalyScore, MAD_Total, Tukey_Total)
  (runs.py:435)

Deviation (documented, SURVEY.md §2.7 E6): the reference's raw score
comes from a pluggable pyod classifier; here it is the deterministic
total flag count (every statistical family's 0/1 flags summed), which
makes the whole output oracle-able. ``ensemble_score`` below offers the
continuous unsupervised analog (mean |modified-Z| across columns).

Scale shape: the flag columns are pure expressions; the only extra pass
is ONE tiny value-count histogram over the integer raw score (codegen
hash agg, <= n_flags+1 cells) from which min/max and the exact percentile
threshold derive driver-side. Labeling compares the INTEGER raw score to
the raw-space threshold — mathematically identical to comparing scaled
values (strict > is affine-invariant) but free of float round-trips. The
severity sort is lazy: consumers that ``limit`` get TakeOrderedAndProject
(per-partition top-k), a full sort only if the caller materializes it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from autoprepad_spark.functions.stats import MAD_SCALE, RobustStats, weighted_quantiles

import numpy as np


def predict(
    df: DataFrame,
    families: dict[str, list[Column]],
    *,
    pct: float = 0.1,
    sort: bool = True,
) -> DataFrame:
    """Append AnomalyScore / AnomalyLabel / per-family ``*_Total`` columns.

    families: {"Tukey": [flag cols], "MAD": [...], ...} — each flag is a
    0/1 Column (functions.stats.tukey_flag etc.). Returns the input rows
    (columns untouched) plus the scoring columns, severity-sorted when
    ``sort`` (reference runs.py:435 ordering).
    """
    totals = {}
    for fam, flags in families.items():
        t = flags[0]
        for f in flags[1:]:
            t = t + f
        totals[f"{fam}_Total"] = t.cast("int")
    raw = None
    for t in totals.values():
        raw = t if raw is None else raw + t

    scored = df
    for name, col in totals.items():
        scored = scored.withColumn(name, col)
    scored = scored.withColumn("_raw", raw.cast("int"))

    # one tiny histogram: the raw score domain is 0..total flag count
    # here (families emit 0/1 flags), but guard with the shared
    # quantizing histogram anyway so a caller wiring a continuous raw
    # score through the same path gets bounded driver state, not an OOM
    from autoprepad_spark.operators.evaluation import quantized_score_hist

    hist = quantized_score_hist(scored, "_raw", None)
    v = np.array([r["_s"] for r in hist], dtype=np.float64)
    c = np.array([r["_n"] for r in hist], dtype=np.int64)
    if v.size == 0:
        lo = hi = thr = 0.0
    else:
        lo, hi = float(v.min()), float(v.max())
        thr = weighted_quantiles(v, c, [1.0 - pct])[0]

    score = (
        F.lit(0.0) if hi == lo else (F.col("_raw") - F.lit(lo)) / F.lit(hi - lo)
    )
    out = (
        scored.withColumn("AnomalyScore", score.cast("double"))
        .withColumn(
            "AnomalyLabel", (F.col("_raw") > F.lit(thr)).cast("int")
        )
        .drop("_raw")
    )
    if sort:
        keys = [F.desc("AnomalyScore")] + [
            F.desc(n) for n in totals if n in ("MAD_Total", "Tukey_Total")
        ]
        out = out.orderBy(*keys)
    return out


def fit_mahalanobis(df: DataFrame, cols: list[str]) -> tuple[list, list]:
    """Fit a Mahalanobis model: (means, inverse covariance) from ONE
    wide aggregation of sufficient statistics.

    The distributed model-based scorer slot (reference E6: the pyod
    PCA/Mahalanobis family, pipelines/defaults.py:35-110): the fit is
    one codegen hash agg of {n, sum(x_i), sum(x_i*x_j)} — k(k+3)/2
    aggregates, mergeable partials, no shuffle of rows — and the k x k
    covariance solve happens driver-side in numpy (k = a handful of
    profiled columns, never the row count). ddof=1 to match the
    reference's sample-covariance convention.
    """
    import numpy as np

    k = len(cols)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"_s{i}"))
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum(
                    F.col(cols[i]).cast("double") * F.col(cols[j]).cast("double")
                ).alias(f"_p{i}_{j}")
            )
    row = df.na.drop("any", subset=cols).agg(*aggs).collect()[0]
    n = row["_n"]
    mu = np.array([row[f"_s{i}"] / n for i in range(k)])
    cov = np.empty((k, k))
    for i in range(k):
        for j in range(i, k):
            cij = (row[f"_p{i}_{j}"] - n * mu[i] * mu[j]) / (n - 1)
            cov[i, j] = cov[j, i] = cij
    inv = np.linalg.inv(cov)
    return mu.tolist(), inv.tolist()


def mahalanobis_score(cols: list[str], mu: list, inv: list) -> Column:
    """sqrt((x-mu)^T S^-1 (x-mu)) as a pure Column expression — the
    fitted model ships as plan literals, scoring is whole-stage codegen
    (no UDF, no shuffle, no per-row python)."""
    k = len(cols)
    d = [F.col(c).cast("double") - F.lit(float(mu[i])) for i, c in enumerate(cols)]
    q = None
    for i in range(k):
        for j in range(k):
            term = d[i] * d[j] * F.lit(float(inv[i][j]))
            q = term if q is None else q + term
    return F.sqrt(F.greatest(q, F.lit(0.0)))


def ensemble_score(cols: dict[str, RobustStats]) -> Column:
    """Continuous unsupervised score: mean |modified Z| across columns.

    The distributed stand-in for the reference's pyod scorer slot
    (pipelines/defaults.py:35-110 PCA/IForest/AE): a robust-Z ensemble is
    deterministic, needs no training state beyond RobustStats, and is a
    pure Column expression (whole-stage codegen, no shuffle). Columns
    with zero MAD contribute 0 (the reference's zero-spread guard,
    MedianAbsolutDeviation.py:44-45).
    """
    terms = []
    for name, st in cols.items():
        x = F.col(name).cast("double")
        if st.mad > 0:
            terms.append(F.abs(F.lit(MAD_SCALE) * (x - F.lit(st.median)) / F.lit(st.mad)))
        else:
            terms.append(F.lit(0.0))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total / F.lit(float(len(terms)))
