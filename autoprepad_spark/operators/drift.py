"""Distribution-drift detection: PSI + chi-square of per-source n_tok
histograms against a checkpointed baseline profile.

The reference's fit/transform split IS a train-vs-new-data comparison
(train-fitted stats applied to test data, /root/reference/pipelines/
runs.py:139-198); the drift check generalizes it to distribution level.

Scale design:
* the histogram is ONE aggregation: groupBy(source, bucket).count() —
  partial+final hash agg, output cardinality = |sources| x |buckets|
  (tiny), so the 10^12-row table reduces to a few hundred rows before
  anything else happens. The hot "web" source is harmless here because
  map-side partial aggregation already collapses it per task; an optional
  salted two-phase is provided for degenerate single-bucket skew.
* baseline vs current: both histograms are |sources| x |buckets| rows, so
  drift() collects them, full-outer joins them on (source, bucket) with
  SQL's null semantics and scores each source on the driver in sorted
  bucket order (the same numpy math per source, no Python worker task).
  The scored rows return as a DataFrame over Arrow. A suite run passes
  the current histogram straight from its fit's cells (bucket_counts),
  so drift costs no scan of its own.

chi-square p-value is computed with a numpy implementation of the
regularized upper incomplete gamma Q(k/2, x/2) (series + continued
fraction), since scipy is not a dependency.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from autoprepad_spark.session import local_frame

PSI_EPS = 1e-6
DEFAULT_BUCKET_WIDTH = 64
PSI_FAIL = 0.2  # industry-standard "significant shift" threshold
# chi² over-rejects at large n (tiny sampling noise -> significant);
# verified empirically: alpha=1e-3 false-positived on un-drifted data at
# n~5k. PSI is the primary signal; chi² backs it with a strict alpha.
CHI2_ALPHA = 1e-6


def ntok_histogram(
    df: DataFrame,
    *,
    value_col: str = "n_tok",
    group_col: str = "source",
    bucket_width: int = DEFAULT_BUCKET_WIDTH,
    salted: bool = False,
    salts: int = 16,
) -> DataFrame:
    """(source, bucket, cnt) histogram of the value column — one agg pass."""
    bucket = F.floor(F.col(value_col) / F.lit(bucket_width)).cast("int").alias("bucket")
    base = df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("source"), F.col(value_col).alias(value_col)
    )
    if salted:
        salt = F.pmod(F.xxhash64(F.col(value_col).cast("string")), F.lit(salts))
        p1 = base.groupBy("source", bucket, salt.alias("_s")).agg(
            F.count(F.lit(1)).alias("_c")
        )
        return p1.groupBy("source", "bucket").agg(F.sum("_c").alias("cnt"))
    return base.groupBy("source", bucket).agg(F.count(F.lit(1)).alias("cnt"))


def bucket_counts(
    cells, *, bucket_width: int = DEFAULT_BUCKET_WIDTH
) -> list[tuple[str, int, int]]:
    """ntok_histogram's (source, bucket, cnt) rows from (source, value,
    cnt) cells on the driver — e.g. profile.part_and_cell_counts', which a
    suite run already collected for its fit. Same bucketing (floor of
    the double quotient) and the same nulls dropped."""
    out: dict = {}
    for src, v, n in cells:
        if src is None or v is None:
            continue
        key = (src, math.floor(v / bucket_width))
        out[key] = out.get(key, 0) + n
    return [(s, b, n) for (s, b), n in out.items()]


_DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("psi", T.DoubleType()),
        T.StructField("chi2_stat", T.DoubleType()),
        T.StructField("chi2_dof", T.IntegerType()),
        T.StructField("chi2_pvalue", T.DoubleType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("baseline_n", T.LongType()),
        T.StructField("current_n", T.LongType()),
    ]
)


def _igamc(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) — chi² survival function
    is Q(k/2, x/2). Series for x < a+1, continued fraction otherwise
    (standard Numerical-Recipes-style formulation, public algorithm)."""
    if x <= 0 or a <= 0:
        return 1.0
    if x < a + 1.0:
        # P(a,x) by series, Q = 1 - P
        ap, s, d = a, 1.0 / a, 1.0 / a
        for _ in range(500):
            ap += 1.0
            d *= x / ap
            s += d
            if abs(d) < abs(s) * 1e-15:
                break
        p = s * math.exp(-x + a * math.log(x) - math.lgamma(a))
        return max(0.0, 1.0 - p)
    # Q(a,x) by continued fraction (Lentz)
    tiny = 1e-300
    b, c = x + 1.0 - a, 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _drift_one_source(pdf: pd.DataFrame) -> pd.DataFrame:
    src = pdf["source"].iloc[0]
    b = pdf["baseline_cnt"].fillna(0).to_numpy(dtype=np.float64)
    c = pdf["current_cnt"].fillna(0).to_numpy(dtype=np.float64)
    bn, cn = b.sum(), c.sum()
    if bn == 0 or cn == 0:
        return pd.DataFrame(
            [[src, float("inf"), float("inf"), 0, 0.0, len(b), int(bn), int(cn)]],
            columns=[f.name for f in _DRIFT_SCHEMA.fields],
        )
    bp = np.maximum(b / bn, PSI_EPS)
    cp = np.maximum(c / cn, PSI_EPS)
    psi = float(np.sum((cp - bp) * np.log(cp / bp)))
    # chi² goodness-of-fit of current counts vs baseline proportions,
    # restricted to buckets with baseline mass (standard practice).
    mask = b > 0
    expected = bp[mask] / bp[mask].sum() * cn
    observed = c[mask]
    chi2 = float(np.sum((observed - expected) ** 2 / expected))
    dof = max(int(mask.sum()) - 1, 1)
    pval = _igamc(dof / 2.0, chi2 / 2.0)
    return pd.DataFrame(
        [[src, psi, chi2, dof, pval, len(b), int(bn), int(cn)]],
        columns=[f.name for f in _DRIFT_SCHEMA.fields],
    )


#: truncation of the Kolmogorov survival series 2*sum (-1)^(k-1) e^(-2k²λ²);
#: terms decay like e^(-2k²λ²) so 100 terms is far past double precision
#: for any λ where the p-value is distinguishable from 0 or 1.
_KS_SERIES_TERMS = 100


def ks_drift(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    *,
    alpha: float = 1e-3,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift from two (source, bucket, cnt)
    histograms — the nonparametric complement of PSI (threshold-free
    effect size) and chi² (which over-rejects at large n on per-bucket
    noise; KS looks at the CDF so it's insensitive to how mass is
    sliced within a region).

    D is the KS statistic of the BUCKETED distributions: exact for the
    bucket granularity, and a lower bound on the raw-value D that is
    off by at most the largest single-bucket mass — the standard
    trade for a sketchable statistic (same contract as the PSI/chi²
    histograms; shrink bucket_width for finer resolution).

    Plan: one full-outer join of two |sources| x |buckets| frames, CDFs
    via per-source window cumsums, then the asymptotic p-value
    (Kolmogorov survival series with the Stephens small-sample lambda
    correction) evaluated as an expression over the |sources|-row
    aggregate — no Python anywhere, nothing driver-side.

    Returns (source, ks_stat, ks_pvalue, baseline_n, current_n,
    ks_fail, status); a side with zero mass yields null ks_stat and
    status 'fail'.
    """
    b = baseline_hist.select("source", "bucket", F.col("cnt").alias("_bc"))
    c = current_hist.select("source", "bucket", F.col("cnt").alias("_cc"))
    j = b.join(c, ["source", "bucket"], "full_outer").fillna(
        0, ["_bc", "_cc"]
    )
    cum = (
        W.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot = W.partitionBy("source")
    bn = F.sum("_bc").over(tot)
    cn = F.sum("_cc").over(tot)
    # try_divide: a zero-mass side yields null CDFs -> null ks_stat
    # (surfaced as status='fail' below) instead of an ANSI error
    gap = F.abs(
        F.try_divide(F.sum("_bc").over(cum), bn)
        - F.try_divide(F.sum("_cc").over(cum), cn)
    )
    agg = (
        j.select(
            "source",
            gap.alias("_gap"),
            bn.alias("baseline_n"),
            cn.alias("current_n"),
        )
        .groupBy("source")
        .agg(
            F.max("_gap").alias("ks_stat"),
            F.max("baseline_n").alias("baseline_n"),
            F.max("current_n").alias("current_n"),
        )
    )
    ne = (
        F.col("baseline_n")
        * F.col("current_n")
        / (F.col("baseline_n") + F.col("current_n"))
    )
    lam_expr = (
        (F.sqrt(ne) + F.lit(0.12) + F.try_divide(F.lit(0.11), F.sqrt(ne)))
        * F.col("ks_stat")
    )
    with_lam = agg.withColumn(
        "_lam", F.when(F.col("ks_stat").isNotNull(), lam_expr)
    )
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(_KS_SERIES_TERMS)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.pow(F.lit(-1.0), (k - 1).cast("double"))
        * F.exp(
            F.lit(-2.0)
            * k.cast("double")
            * k.cast("double")
            * F.col("_lam")
            * F.col("_lam")
        ),
    )
    pval = F.least(F.greatest(F.lit(2.0) * series, F.lit(0.0)), F.lit(1.0))
    # below lam ~0.3 the survival is 1 - O(1e-22) but the alternating
    # series cancels catastrophically (and diverges at lam = 0): clamp.
    pval = F.when(F.col("_lam") < 0.3, F.lit(1.0)).otherwise(pval)
    out = with_lam.withColumn(
        "ks_pvalue", F.when(F.col("ks_stat").isNotNull(), pval)
    ).drop("_lam")
    fail = F.col("ks_stat").isNull() | (F.col("ks_pvalue") < alpha)
    return out.withColumn("ks_fail", fail).withColumn(
        "status", F.when(fail, F.lit("fail")).otherwise(F.lit("pass"))
    )


def collect_histogram(hist: DataFrame) -> list[tuple]:
    """A (source, bucket, cnt) histogram frame's rows, on the driver."""
    return [tuple(r) for r in hist.select("source", "bucket", "cnt").collect()]


def _full_outer(baseline: list, current: list) -> dict:
    """{source: [(bucket, baseline_cnt, current_cnt), ...]} — the
    full-outer join of two (source, bucket, cnt) row lists on (source,
    bucket) as SQL computes it: a key holding a null matches nothing,
    and a repeated key pairs with every match."""
    def key(s, b):
        return (s, b) if s is not None and b is not None else None

    cur = defaultdict(list)
    for s, b, n in current:
        cur[key(s, b)].append(n)
    base_keys = set()
    out = defaultdict(list)
    for s, b, n in baseline:
        k = key(s, b)
        base_keys.add(k)
        for m in (cur[k] if k is not None and k in cur else [None]):
            out[s].append((b, n, m))
    for s, b, n in current:
        k = key(s, b)
        if k is None or k not in base_keys:
            out[s].append((b, None, n))
    return out


def drift_from_counts(
    spark: SparkSession,
    baseline: list,
    current: list,
    *,
    psi_fail: float = PSI_FAIL,
    chi2_alpha: float = CHI2_ALPHA,
) -> DataFrame:
    """drift() over (source, bucket, cnt) row lists already on the
    driver. Each source is scored by _drift_one_source over its joined
    buckets in sorted order, so the result is a pure function of the two
    histograms whatever order their rows arrived in."""
    def order(row):
        return tuple((x is None, 0 if x is None else x) for x in row)

    joined = _full_outer(baseline, current)
    scored = [
        _drift_one_source(pd.DataFrame(
            [(src, *r) for r in sorted(joined[src], key=order)],
            columns=["source", "bucket", "baseline_cnt", "current_cnt"],
        ).astype({"baseline_cnt": "float64", "current_cnt": "float64"}))
        for src in sorted(joined, key=lambda x: (x is None, x or ""))
    ]
    pdf = pd.concat(scored, ignore_index=True) if scored else pd.DataFrame()
    return (
        local_frame(spark, pdf, _DRIFT_SCHEMA)
        .withColumn("psi_fail", (F.col("psi") > psi_fail))
        .withColumn("chi2_fail", (F.col("chi2_pvalue") < chi2_alpha))
        .withColumn(
            "status",
            F.when(F.col("psi_fail") | F.col("chi2_fail"), F.lit("fail")).otherwise(
                F.lit("pass")
            ),
        )
    )


def drift(
    baseline_hist: DataFrame,
    current_hist: DataFrame,
    *,
    psi_fail: float = PSI_FAIL,
    chi2_alpha: float = CHI2_ALPHA,
) -> DataFrame:
    """Per-source drift verdicts from two (source, bucket, cnt) histograms.

    Returns (source, psi, chi2_stat, chi2_dof, chi2_pvalue, n_buckets,
    baseline_n, current_n, psi_fail, chi2_fail, status).
    """
    return drift_from_counts(
        baseline_hist.sparkSession,
        collect_histogram(baseline_hist),
        collect_histogram(current_hist),
        psi_fail=psi_fail,
        chi2_alpha=chi2_alpha,
    )


# ---------------------------------------------------------------------------
# metric-history anomaly flags (run-over-run regression detection)
# ---------------------------------------------------------------------------


def history_flags(
    history: DataFrame,
    value_col: str,
    *,
    key_cols: tuple[str, ...] = ("part", "check_name"),
    order_col: str = "run_seq",
    threshold: float = 3.5,
    min_history: int = 3,
) -> DataFrame:
    """Modified-Z anomaly flags for a metric time series against its own
    TRAILING history — run-over-run regression detection over the
    engine's verdict/lineage artifacts (the metrics-anomaly capability
    Deequ pairs with its checks; the reference has per-run CSV metrics,
    experiment.py:494-502, but nothing that reads them back).

    For each key (default: a partition x check series) rows are ordered
    by `order_col` and every row is judged against the rows STRICTLY
    BEFORE it: med = median(prior), MAD = median(|prior - med|),
    mod_z = 0.6745 * |x - med| / MAD (the marking pass's F6 constants).
    `flagged` when mod_z > threshold and at least `min_history` prior
    points exist. A zero-MAD history (constant so far) flags ANY
    deviation — a violation count that has been 0 for thirty runs and
    jumps to 5 is precisely the alarm this exists for. Strictly-prior
    framing means a regression never contaminates the baseline that
    judges it, and re-scoring the full history is idempotent.

    Scale: the input is a METRICS frame (runs x partitions x checks —
    kilobytes per run, already reduced from the 10^12-row table by the
    suite), grouped per key; each pandas group holds one key's run
    history. The O(h^2) trailing medians are over h = runs-per-key,
    hundreds at most.
    """
    from autoprepad_spark.operators.marking import MAD_SCALE

    keys = list(key_cols)
    out_schema = T.StructType(
        history.schema.fields
        + [
            T.StructField("n_history", T.IntegerType(), False),
            T.StructField("trailing_median", T.DoubleType(), True),
            T.StructField("trailing_mad", T.DoubleType(), True),
            T.StructField("mod_z", T.DoubleType(), True),
            T.StructField("flagged", T.BooleanType(), False),
        ]
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort").reset_index(drop=True)
        vals = pdf[value_col].astype(float).to_numpy()
        n = len(vals)
        med = np.full(n, np.nan)
        mad = np.full(n, np.nan)
        z = np.full(n, np.nan)
        flag = np.zeros(n, dtype=bool)
        n_hist = np.zeros(n, dtype="int32")
        for i in range(1, n):
            prior = vals[:i]
            prior = prior[~np.isnan(prior)]
            n_hist[i] = len(prior)
            if len(prior) == 0:
                continue
            m = float(np.median(prior))
            d = float(np.median(np.abs(prior - m)))
            med[i], mad[i] = m, d
            x = vals[i]
            if np.isnan(x):
                continue
            if d > 0:
                z[i] = MAD_SCALE * abs(x - m) / d
            else:
                z[i] = 0.0 if x == m else float("inf")
            flag[i] = len(prior) >= min_history and z[i] > threshold
        pdf["n_history"] = n_hist
        pdf["trailing_median"] = med
        pdf["trailing_mad"] = mad
        pdf["mod_z"] = z
        pdf["flagged"] = flag
        return pdf

    return history.groupBy(*keys).applyInPandas(score, out_schema)
