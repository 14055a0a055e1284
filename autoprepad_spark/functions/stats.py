"""Robust-statistics expression builders — generalized over any numeric
column (the engine's n_tok checks are one instantiation).

Reference formulas reproduced exactly:
* Tukey fences: Q1 - k*IQR / Q3 + k*IQR, k=1.5
  (/root/reference/pipelines/preprocessing/statistical/TukeyTransformer.py:33-42)
* modified Z: 0.6745*(x - median)/MAD, flag |z| > 3.5
  (MedianAbsolutDeviation.py:36-61)
* Z score: (x - mean)/std(ddof=1), flag |z| > 3 (ZTransformerMean.py:32-58)
* MinMax rescale of scores (pipelines/runs.py:200-201)
* Robust scale (x - median)/IQR (pipelines/configuration.py:192-194)
* top-k% percentile labeling (pipelines/runs.py:211-214)
* percentile sweep 1..100 for PR curves (experiment.py:394-405)

Each `fit_*` is ONE aggregation (partial+final, sketch-compatible);
each `*_flag`/`*_scale` is a pure Column expression (whole-stage codegen).
Zero-spread guards: constant columns never flag (MAD==0 -> 0, std==0 -> 0).

Quantile strategy (``method=`` on every fit):
* ``hist`` (default) — value-count histogram: groupBy(value).count() is a
  plain codegen hash agg (mergeable, spillable); quantiles/median/MAD
  and the moments derive driver-side from the (value, count) pairs with
  numpy linear-interpolation parity — EXACT results without
  F.percentile's ObjectHashAggregate, which buffers every row as boxed
  objects (measured 3-10x slower under parallelism from GC pressure and
  non-viable at 10^12 rows). Correct for bounded-cardinality domains
  (ints, bounded decimals — every distinct value becomes one agg cell).
* ``approx`` — percentile_approx KLL-style sketch for genuinely
  continuous/unbounded domains (document the rsd tolerance).
* ``exact`` — legacy F.percentile (ObjectHashAggregate); kept as an
  oracle-debug escape hatch, not a production path.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from autoprepad_spark.operators.profile import mad_from_counts, weighted_quantiles

TUKEY_K = 1.5
MAD_SCALE = 0.6745
MAD_THRESHOLD = 3.5
Z_THRESHOLD = 3.0


def _pct(col: Column, probs, exact: bool):
    if exact:
        return F.percentile(col, probs)
    return F.percentile_approx(col, probs, 10_000)


#: ceiling on total histogram cells collected to the driver by the
#: ``hist`` fit path — ~2M (value, count) float pairs is tens of MB,
#: comfortably within driver memory; a genuinely continuous column
#: would produce row-count-sized "histograms" and must use
#: method="approx" instead (the guard raises rather than OOM silently).
MAX_HIST_CELLS = 2_000_000


def _col_histograms(
    df: DataFrame, cols: list[str], *, max_cells: int = MAX_HIST_CELLS
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per-column (values, counts) histograms from ONE scan.

    All columns' values go through a single explode -> groupBy(col, value)
    hash agg; map-side partial aggregation collapses the explode before
    the shuffle, so the exchanged data is bounded by the value domains,
    not the row count. The bounded-domain contract is ENFORCED: more
    than ``max_cells`` total distinct cells raises (use method="approx"
    for continuous/unbounded columns) instead of collecting an
    unbounded result to the driver.

    Guard mechanics (round 4): the cap rides the collecting action
    itself — ``LIMIT max_cells+1`` on the aggregated frame, then one
    Arrow collect. CollectLimitExec plans as per-partition localLimit
    (each reduce task emits at most cap+1 cells) -> single-partition
    shuffle -> globalLimit, so neither the driver nor any task ever
    materializes more than ~cap cells and the upstream scan+agg executes
    exactly ONCE. Measured at sf0.1 lineitem x3 cols (583k cells):
    1.33s vs 5.53s for the round-3 persist->count->collect shape and
    1.20s unguarded — the guard is now ~free (BENCH/BASELINE.md, "the
    histogram-fit guard rides the collecting action").
    (Round 3's note about LIMIT probes being 4x worse applied to a
    SEPARATE limit+count probe action before a full collect; a limit on
    the collecting action has no second pass to re-plan.)"""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("c"), F.col(c).cast("double").alias("v")
                )
                for c in cols
            ]
        )
    )
    # Arrow-backed toPandas: a bounded-decimal column can easily have
    # 10^5-10^7 distinct cells — row-based collect() crawls through py4j,
    # the Arrow path moves the whole histogram in a few batches.
    pdf = (
        df.select(pairs.alias("p"))
        .select(F.col("p.c").alias("c"), F.col("p.v").alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("c", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .limit(max_cells + 1)
        .toPandas()
    )
    if len(pdf) > max_cells:
        raise ValueError(
            f"histogram fit over {cols} exceeds {max_cells} distinct "
            "cells — the column domain is not bounded; use "
            "method='approx' (percentile_approx sketch) for continuous "
            "columns"
        )
    out = {}
    for c in cols:
        sub = pdf[pdf["c"] == c]
        out[c] = (
            sub["v"].to_numpy(dtype=np.float64),
            sub["n"].to_numpy(dtype=np.int64),
        )
    return out


def _robust_from_hist(v: np.ndarray, c: np.ndarray) -> "RobustStats":
    """Exact RobustStats derived from a (values, counts) histogram.

    Mean/std are computed two-pass in float64 over the RLE histogram —
    numerically the same as numpy over the expanded data (ddof=1).

    Cells are sorted by value FIRST: they arrive in collect order, which
    is scheduler-dependent, and np.dot's accumulation order would
    otherwise leak that nondeterminism into the last ulps of mean/std —
    observed as a flaked exact-equality between the direct fit and the
    merged-shard-profile fit under host contention. Sorted, the fit is
    a pure function of the histogram MULTISET: bit-identical across
    partitionings, schedulers, and fit paths."""
    if v.size == 0:
        return RobustStats(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    order = np.argsort(v, kind="stable")
    v, c = v[order], c[order]
    n = int(c.sum())
    mean = float(np.dot(v, c) / n)
    var = float(np.dot(c, (v - mean) ** 2) / (n - 1)) if n > 1 else 0.0
    q1, med, q3 = weighted_quantiles(v, c, [0.25, 0.5, 0.75])
    return RobustStats(
        mean=mean,
        std=float(np.sqrt(var)),
        q1=q1,
        median=med,
        q3=q3,
        mad=mad_from_counts(v, c, med),
        vmin=float(v.min()),
        vmax=float(v.max()),
    )


@dataclass(frozen=True)
class RobustStats:
    mean: float
    std: float  # ddof=1
    q1: float
    median: float
    q3: float
    mad: float
    vmin: float
    vmax: float

    @property
    def iqr(self) -> float:
        return self.q3 - self.q1

    @property
    def tukey_lo(self) -> float:
        return self.q1 - TUKEY_K * self.iqr

    @property
    def tukey_hi(self) -> float:
        return self.q3 + TUKEY_K * self.iqr


def fit_robust(df: DataFrame, col: str, *, method: str = "hist") -> RobustStats:
    """All univariate fit statistics; ``hist`` needs ONE scan total."""
    return fit_robust_multi(df, [col], method=method)[col]


def fit_robust_grouped(
    df: DataFrame, col: str, group_col: str
) -> DataFrame:
    """Per-group RobustStats as a DataFrame: (group, mean, std, q1,
    median, q3, mad, vmin, vmax).

    One distributed (group, value) histogram hash agg, then a grouped-map
    over the (tiny) per-group cells derives every statistic exactly —
    the grouped generalization of the fit path: per-group state is
    bounded by the value domain, never the row count. The result is
    broadcast-joinable back onto the rows for per-group flagging."""
    from pyspark.sql import types as T
    import pandas as pd

    h = (
        df.filter(F.col(col).isNotNull())
        .groupBy(group_col, F.col(col).cast("double").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    schema = T.StructType(
        [df.schema[group_col]]
        + [
            T.StructField(f, T.DoubleType())
            for f in ("mean", "std", "q1", "median", "q3", "mad", "vmin", "vmax")
        ]
    )

    def derive(pdf: pd.DataFrame) -> pd.DataFrame:
        rs = _robust_from_hist(
            pdf["_v"].to_numpy(dtype=np.float64), pdf["_n"].to_numpy(dtype=np.int64)
        )
        return pd.DataFrame(
            [[
                pdf[group_col].iloc[0], rs.mean, rs.std, rs.q1, rs.median,
                rs.q3, rs.mad, rs.vmin, rs.vmax,
            ]],
            columns=[f.name for f in schema.fields],
        )

    return h.groupBy(group_col).applyInPandas(derive, schema)


def tukey_flag(col: Column, stats: RobustStats) -> Column:
    return ((col < stats.tukey_lo) | (col > stats.tukey_hi)).cast("int")


def mad_flag(col: Column, stats: RobustStats) -> Column:
    if stats.mad <= 0:
        return F.lit(0)
    z = MAD_SCALE * (col - stats.median) / stats.mad
    return (F.abs(z) > MAD_THRESHOLD).cast("int")


def zscore_flag(col: Column, stats: RobustStats) -> Column:
    if stats.std <= 0:
        return F.lit(0)
    return (F.abs((col - stats.mean) / stats.std) > Z_THRESHOLD).cast("int")


def flag_total(*flags: Column) -> Column:
    """Row-wise horizontal sum of 0/1 flags (TukeyTransformerTotal.py:25-36)."""
    total = flags[0]
    for f in flags[1:]:
        total = total + f
    return total.cast("int")


def minmax_scale(col: Column, vmin: float, vmax: float) -> Column:
    if vmax == vmin:
        return F.lit(0.0)
    return (col - vmin) / (vmax - vmin)


def robust_scale(col: Column, stats: RobustStats) -> Column:
    if stats.iqr == 0:
        return F.lit(0.0)
    return (col - stats.median) / stats.iqr


def percentile_threshold(
    df: DataFrame, col: str, pct: float = 0.9, *, method: str = "hist"
) -> float:
    """Threshold for top-(1-pct) labeling (runs.py:211-214, default top 10%)."""
    if method == "hist":
        v, c = _col_histograms(df, [col])[col]
        if v.size == 0:
            return 0.0
        return weighted_quantiles(v, c, [pct])[0]
    c = F.col(col).cast("double")
    return float(df.agg(_pct(c, F.lit(pct), method == "exact").alias("t")).collect()[0]["t"])


def percentile_sweep(df: DataFrame, col: str, *, method: str = "hist") -> DataFrame:
    """(pct 1..100, value) from ONE scan (experiment.py:394-405 ran 100
    separate np.percentile calls; here one histogram / percentile array)."""
    if method == "hist":
        v, c = _col_histograms(df, [col])[col]
        vals = weighted_quantiles(v, c, [i / 100.0 for i in range(1, 101)]) if v.size else [0.0] * 100
        return df.sparkSession.createDataFrame(
            [(i + 1, float(x)) for i, x in enumerate(vals)], "pct int, value double"
        )
    c = F.col(col).cast("double")
    probs = F.array(*[F.lit(i / 100.0) for i in range(1, 101)])
    agg = df.agg(_pct(c, probs, method == "exact").alias("vals"))
    return agg.select(
        F.posexplode("vals").alias("idx", "value")
    ).select((F.col("idx") + 1).alias("pct"), "value")


def variance_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column stddev + null count + drop decision, one wide agg pass.

    Reference parity: remove_no_variance_columns drops columns with
    std()==0.0 OR containing any NaN after transform
    (/root/reference/pipelines/runs.py:310-365, std at 333, isna at 335).
    pandas ``isna`` counts float NaN as missing, so floating-point
    columns count ``isnull | isnan``; a NaN stddev (e.g. the column IS
    all-NaN) likewise means dropped.
    """
    import math

    from pyspark.sql.types import DoubleType, FloatType

    float_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, (DoubleType, FloatType))
    }
    aggs = []
    for c in cols:
        missing = (
            (F.isnull(c) | F.isnan(c)) if c in float_cols else F.isnull(c)
        )
        aggs.append(F.stddev_samp(F.col(c).cast("double")).alias(f"_s_{c}"))
        aggs.append(F.sum(missing.cast("long")).alias(f"_n_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in cols:
        s, n = row[f"_s_{c}"], int(row[f"_n_{c}"])
        s_bad = s is None or math.isnan(float(s)) or float(s) == 0.0
        dropped = s_bad or n > 0
        out.append((c, float(s) if s is not None else None, n, dropped))
    return df.sparkSession.createDataFrame(
        out, "column string, stddev double, n_null long, dropped boolean"
    )


def fit_robust_multi(
    df: DataFrame, cols: list[str], *, method: str = "hist"
) -> dict[str, RobustStats]:
    """Fit statistics for MANY columns, fused.

    ``hist``: ONE scan for every column's full RobustStats (value-count
    histograms, driver-side derivation). ``exact``/``approx``: two scans
    total (wide agg + MAD pass), F.percentile or the KLL sketch. The
    reference fits each transformer eagerly per column
    (pipelines/runs.py:139) — at scale that's 2 scans per column."""
    if method == "hist":
        hists = _col_histograms(df, cols)
        return {c: _robust_from_hist(*hists[c]) for c in cols}
    exact = method == "exact"
    aggs = []
    for c in cols:
        cc = F.col(c).cast("double")
        aggs += [
            F.avg(cc).alias(f"mean_{c}"),
            F.stddev_samp(cc).alias(f"std_{c}"),
            _pct(cc, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), exact).alias(f"q_{c}"),
            F.min(cc).alias(f"min_{c}"),
            F.max(cc).alias(f"max_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    meds = {c: float(row[f"q_{c}"][1]) if row[f"q_{c}"] else 0.0 for c in cols}
    mad_row = df.agg(
        *[
            _pct(F.abs(F.col(c).cast("double") - F.lit(meds[c])), F.lit(0.5), exact).alias(f"mad_{c}")
            for c in cols
        ]
    ).collect()[0]
    out = {}
    for c in cols:
        q = row[f"q_{c}"]
        out[c] = RobustStats(
            mean=float(row[f"mean_{c}"] or 0.0),
            std=float(row[f"std_{c}"] or 0.0),
            q1=float(q[0]) if q else 0.0,
            median=meds[c],
            q3=float(q[2]) if q else 0.0,
            mad=float(mad_row[f"mad_{c}"] or 0.0),
            vmin=float(row[f"min_{c}"] or 0.0),
            vmax=float(row[f"max_{c}"] or 0.0),
        )
    return out
