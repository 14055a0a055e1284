"""Null handling: fingerprints, rates, imputation.

Reference parity:
* row null-pattern fingerprint: concat of 0/1 flags, REVERSED, read as a
  binary integer (NaNColumnCreatorTotal.py:33-54 via BitArray.int) — one
  integer encoding which columns are null in the row
* median imputation (pipelines/configuration.py:187-190 SimpleImputer)

All pure Column expressions or single aggregations; the fingerprint stays
JVM-side (bit-shift sum, no string building).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def null_fingerprint(cols: list[str], *, reference_bit_order: bool = True) -> Column:
    """sum(flag_i << position) over the row's null flags.

    reference_bit_order=True reproduces NaNColumnCreatorTotal.py:44-47:
    the flag string is REVERSED before int conversion, i.e. column i
    contributes bit i (first column = least-significant bit).
    """
    total = F.lit(0).cast("long")
    n = len(cols)
    for i, c in enumerate(cols):
        bit = i if reference_bit_order else (n - 1 - i)
        total = total + (F.isnull(c).cast("long") * F.lit(1 << bit))
    return total


def null_rates(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One wide agg: (column, n_null, n_rows, null_rate) long-form."""
    cols = cols or df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(F.isnull(c).cast("long")).alias(f"_null_{c}") for c in cols],
    )
    stack = ", ".join(f"'{c}', _null_{c}" for c in cols)
    return agg.select(
        F.expr(f"stack({len(cols)}, {stack}) as (column, n_null)"), F.col("_n").alias("n_rows")
    ).select(
        "column",
        "n_null",
        "n_rows",
        (F.col("n_null") / F.col("n_rows")).alias("null_rate"),
    )


def impute_median(df: DataFrame, cols: list[str], *, method: str = "hist") -> DataFrame:
    """SimpleImputer(strategy='median') — one scan fits all medians.

    ``hist`` (default): exact medians from value-count histograms (no
    ObjectHashAggregate — see functions.stats); ``approx``:
    percentile_approx sketch for unbounded domains."""
    if method == "hist":
        from autoprepad_spark.functions.stats import _col_histograms, weighted_quantiles

        hists = _col_histograms(df, cols)
        meds = {
            c: (weighted_quantiles(v, n, [0.5])[0] if v.size else None)
            for c, (v, n) in hists.items()
        }
    else:
        pct = (lambda c: F.percentile(c, F.lit(0.5))) if method == "exact" else (
            lambda c: F.percentile_approx(c, F.lit(0.5), 10_000)
        )
        row = df.agg(
            *[pct(F.col(c).cast("double")).alias(c) for c in cols]
        ).collect()[0]
        meds = {c: row[c] for c in cols}
    out = df
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(meds[c])))
    return out


def regression_impute(
    df: DataFrame,
    target: str,
    features: list[str],
    *,
    n_iter: int = 1,
) -> DataFrame:
    """Regression-based imputation — the distributed analog of the
    reference's experimental IterativeImputer (round-robin regression,
    /root/reference/pipelines/configuration.py:218,244).

    Each round fits OLS on the complete rows via normal equations:
    ONE wide aggregation of the {X^T X, X^T y} moments (k features
    -> (k+1)(k+4)/2 mergeable sums, no shuffle of rows), solved
    driver-side in numpy; prediction is a pure Column expression, so the
    fill costs one projection. Rows missing a feature fall back to the
    complete-rows target mean (IterativeImputer's mean initialization).
    n_iter > 1 re-fits after filling (matters only when features
    themselves contain imputed values; with fully-observed features one
    round IS the fixed point).
    """
    import numpy as np

    k = len(features)
    out = df
    for _ in range(max(n_iter, 1)):
        complete = out.na.drop("any", subset=[target] + features)
        cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in features]
        y = F.col(target).cast("double")
        aggs = []
        for i in range(k + 1):
            for j in range(i, k + 1):
                aggs.append(F.sum(cols[i] * cols[j]).alias(f"_x{i}_{j}"))
            aggs.append(F.sum(cols[i] * y).alias(f"_y{i}"))
        row = complete.agg(*aggs).collect()[0]
        xtx = np.empty((k + 1, k + 1))
        xty = np.empty(k + 1)
        for i in range(k + 1):
            for j in range(i, k + 1):
                xtx[i, j] = xtx[j, i] = row[f"_x{i}_{j}"]
            xty[i] = row[f"_y{i}"]
        beta = np.linalg.solve(xtx, xty)
        mean_y = xty[0] / xtx[0, 0]  # complete-rows target mean
        pred = F.lit(float(beta[0]))
        for i, c in enumerate(features):
            pred = pred + F.col(c).cast("double") * F.lit(float(beta[i + 1]))
        feats_ok = F.lit(True)
        for c in features:
            feats_ok = feats_ok & F.col(c).isNotNull()
        out = out.withColumn(
            target,
            F.when(F.col(target).isNotNull(), F.col(target).cast("double"))
            .when(feats_ok, pred)
            .otherwise(F.lit(float(mean_y))),
        )
    return out
