"""Single-pass table profiling — the engine's "fit" stage.

Every fit step of the reference is a global aggregation executed eagerly per
transformer (Tukey quantiles /root/reference/pipelines/preprocessing/
statistical/TukeyTransformer.py:36-42, MAD median MedianAbsolutDeviation.py:
40-45, Z mean/std ZTransformerMean.py:36-39, pruning stats runs.py:333-335).
Here they fuse into TWO cheap codegen hash-agg scans:

* the **wide agg** — rollup("part") yields per-partition AND global
  count / null / min / max / mean / stddev / HyperLogLog-distinct rows in
  a single partial+final hash-agg,
* the **value-count histogram** — groupBy(n_tok).count(). Because n_tok
  is a bounded integer, the histogram IS an exact mergeable quantile
  sketch with at most |domain| cells: Q1/median/Q3 AND the MAD (median of
  |x - median|) are computed exactly from it with numpy-parity linear
  interpolation, driver-side, with no second scan. This replaces exact
  F.percentile, whose ObjectHashAggregate buffers every row as boxed
  objects — measured 3-10x slower at high parallelism from GC pressure,
  and non-viable at 10^12 rows. For unbounded/continuous domains pass
  exact_quantiles=False to use the percentile_approx KLL-style sketch
  (document the tolerance; merge order makes it not bit-deterministic).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

GLOBAL_PART = "__all__"


@dataclass(frozen=True)
class ProfileStats:
    """Global fit statistics consumed by the marking pass."""

    n_rows: int
    mean_n_tok: float
    std_n_tok: float  # sample stddev, ddof=1 (ZTransformerMean.py:37 parity)
    q1_n_tok: float
    median_n_tok: float
    q3_n_tok: float
    mad_n_tok: float  # median(|x - median|), MedianAbsolutDeviation.py:41-42
    min_n_tok: float
    max_n_tok: float

    @property
    def tukey_bounds(self) -> tuple[float, float]:
        """Q1 - 1.5*IQR, Q3 + 1.5*IQR (TukeyTransformer.py:36-42, k=1.5)."""
        iqr = self.q3_n_tok - self.q1_n_tok
        return self.q1_n_tok - 1.5 * iqr, self.q3_n_tok + 1.5 * iqr


# ---------------------------------------------------------------------------
# exact weighted quantiles over run-length-encoded values
# ---------------------------------------------------------------------------


def weighted_quantiles(
    values: np.ndarray, counts: np.ndarray, qs: list[float]
) -> list[float]:
    """np.quantile(method='linear') parity over (value, count) pairs.

    Position h = (n-1)q on the expanded sorted data; the element at
    0-based position p is values[searchsorted(cumcounts, p+1, 'left')].
    """
    order = np.argsort(values, kind="stable")
    v = np.asarray(values, dtype=np.float64)[order]
    c = np.asarray(counts, dtype=np.int64)[order]
    cum = np.cumsum(c)
    n = int(cum[-1])
    out = []
    for q in qs:
        h = (n - 1) * float(q)
        lo = int(np.floor(h))
        frac = h - lo
        i0 = int(np.searchsorted(cum, lo + 1, side="left"))
        x0 = v[i0]
        if frac == 0.0:
            out.append(float(x0))
            continue
        i1 = int(np.searchsorted(cum, lo + 2, side="left"))
        x1 = v[min(i1, len(v) - 1)]
        out.append(float(x0 + frac * (x1 - x0)))
    return out


def mad_from_counts(values: np.ndarray, counts: np.ndarray, median: float) -> float:
    """Exact MAD from the same histogram: fold to |v - median|, merge
    colliding cells, weighted median."""
    dev = np.abs(np.asarray(values, dtype=np.float64) - median)
    uniq, inv = np.unique(dev, return_inverse=True)
    merged = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(merged, inv, np.asarray(counts, dtype=np.int64))
    return weighted_quantiles(uniq, merged, [0.5])[0]


# ---------------------------------------------------------------------------
# aggregation passes
# ---------------------------------------------------------------------------


def _wide_agg(df: DataFrame, *, rsd: float = 0.05) -> DataFrame:
    """rollup("part"): per-partition + global stats, one scan, no
    object-agg (all codegen'd hash aggregates / HLL sketches). rsd 0.05
    keeps the per-group HLL buffer small enough for the fast hash-agg
    path (rsd=0.01 means a 16KB+ buffer per group — measured 5-8x slower
    grouped)."""
    return (
        df.rollup("part")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"),
            F.sum(F.isnull("doc_id").cast("long")).alias("n_null_doc_id"),
            F.sum(F.isnull("source").cast("long")).alias("n_null_source"),
            F.sum(F.isnull("n_tok").cast("long")).alias("n_null_n_tok"),
            F.approx_count_distinct("doc_id", rsd).alias("approx_distinct_doc_id"),
            F.approx_count_distinct("source", rsd).alias("approx_distinct_source"),
            F.min("n_tok").alias("min_n_tok"),
            F.max("n_tok").alias("max_n_tok"),
            F.avg("n_tok").alias("mean_n_tok"),
            F.stddev_samp("n_tok").alias("std_n_tok"),
            F.grouping("part").alias("_g"),
        )
        .withColumn(
            "part", F.when(F.col("_g") == 1, F.lit(GLOBAL_PART)).otherwise(F.col("part"))
        )
        .drop("_g")
    )


def ntok_value_counts(df: DataFrame) -> DataFrame:
    """(part, n_tok, cnt) — the exact bounded-int histogram. At any scale
    this is a plain partial+final hash agg with <= parts x |domain| cells."""
    return (
        df.filter(F.col("n_tok").isNotNull())
        .groupBy("part", "n_tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_Q_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType()),
        T.StructField("q1_n_tok", T.DoubleType()),
        T.StructField("median_n_tok", T.DoubleType()),
        T.StructField("q3_n_tok", T.DoubleType()),
        T.StructField("mad_n_tok", T.DoubleType()),
    ]
)


def _quantile_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    part = pdf["part"].iloc[0]
    v = pdf["n_tok"].to_numpy(dtype=np.float64)
    c = pdf["cnt"].to_numpy(dtype=np.int64)
    q1, med, q3 = weighted_quantiles(v, c, [0.25, 0.5, 0.75])
    mad = mad_from_counts(v, c, med)
    return pd.DataFrame(
        [[part, q1, med, q3, mad]], columns=[f.name for f in _Q_SCHEMA.fields]
    )


def _quantile_frame(hist: DataFrame) -> DataFrame:
    """Per-part + global quantile/MAD rows from the histogram (grouped-map
    over tiny data; the global row merges per-part cells by re-agg)."""
    g = (
        hist.groupBy("n_tok")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("part", F.lit(GLOBAL_PART))
        .select("part", "n_tok", "cnt")
    )
    both = hist.select("part", "n_tok", "cnt").unionByName(g)
    return both.groupBy("part").applyInPandas(_quantile_rows, _Q_SCHEMA)


def profile_table(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    include_distinct: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Generic per-group + global profile of any (group, value) pair via
    ROLLUP — one partial+final hash-agg scan produces every group's row
    AND the grand-total row (the grouping-sets pattern; no second pass,
    no union). The global row's group value is GLOBAL_PART.

    include_distinct adds HyperLogLog distinct counts (engine-specific
    sketch values — leave off for cross-engine comparisons)."""
    v = F.col(value_col).cast("double")
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.isnull(v).cast("long")).alias("n_null"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.avg(v).alias("mean"),
        F.stddev_samp(v).alias("std"),
    ]
    if include_distinct:
        aggs.append(F.approx_count_distinct(value_col, rsd).alias("approx_distinct"))
    return (
        df.rollup(group_col)
        .agg(*aggs, F.grouping(group_col).alias("_g"))
        .withColumn(
            group_col,
            F.when(F.col("_g") == 1, F.lit(GLOBAL_PART)).otherwise(F.col(group_col)),
        )
        .drop("_g")
    )


def profile(df: DataFrame, *, exact_quantiles: bool = True) -> DataFrame:
    """Per-partition + global profile rows.

    exact_quantiles=True: histogram method (exact, deterministic, numpy
    linear-interpolation parity). False: percentile_approx sketch for
    unbounded domains.
    """
    wide = _wide_agg(df)
    if exact_quantiles:
        return wide.join(_quantile_frame(ntok_value_counts(df)), "part", "left")
    pct = F.percentile_approx(
        F.col("n_tok").cast("double"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
        10_000,
    )
    q = (
        df.rollup("part")
        .agg(pct.alias("q"), F.grouping("part").alias("_g"))
        .withColumn(
            "part", F.when(F.col("_g") == 1, F.lit(GLOBAL_PART)).otherwise(F.col("part"))
        )
        .select(
            "part",
            F.col("q")[0].alias("q1_n_tok"),
            F.col("q")[1].alias("median_n_tok"),
            F.col("q")[2].alias("q3_n_tok"),
        )
    )
    return wide.join(q, "part", "left")


def part_and_cell_counts(
    df: DataFrame, *, cells: bool = True
) -> tuple[dict, list[tuple]]:
    """({part: row_count}, [(source, n_tok, cnt) cells]) from ONE
    column-pruned ``groupingSets([part], [source, n_tok])`` collect,
    nulls kept as their own keys and cells; with ``cells=False`` the
    ``[part]`` set is alone and the cells are empty. The cells summed
    over source are global_stats' histogram; bucketed per source they
    are the drift histogram (drift.bucket_counts) — so a suite run fits,
    counts its partitions and profiles drift from one scan. At most
    |parts| + |sources| x |n_tok domain| rows reach the driver."""
    sets = [["part"], ["source", "n_tok"]] if cells else [["part"]]
    keys = ["part", "source", "n_tok"] if cells else ["part"]
    rows = (
        df.groupingSets(sets, *keys)
        .agg(F.grouping("part").alias("_g"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    parts = {r["part"]: r["cnt"] for r in rows if r["_g"] == 0}
    return parts, [(r["source"], r["n_tok"], r["cnt"]) for r in rows if r["_g"] == 1]


def stats_from_ntok_counts(cells) -> ProfileStats:
    """ProfileStats from (n_tok, cnt) cells; repeated n_tok values (one
    cell per source, say) are merged first. Row count, min/max, mean,
    ddof=1 stddev AND the exact quantiles/MAD all derive from the cells
    driver-side in float64."""
    merged: dict = {}
    for v, n in cells:
        merged[v] = merged.get(v, 0) + n
    n_rows = int(sum(merged.values()))
    if not n_rows:
        return ProfileStats(0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    # sort cells by value: collect order is scheduler-dependent and
    # would leak into the last ulps of mean/std via np.dot's
    # accumulation order (see stats._robust_from_hist) — sorted, the
    # fit is a pure function of the histogram multiset
    nn = sorted((v, n) for v, n in merged.items() if v is not None)
    if nn:
        v = np.array([x for x, _ in nn], dtype=np.float64)
        c = np.array([n for _, n in nn], dtype=np.int64)
        n = int(c.sum())
        mean = float(np.dot(v, c) / n)
        var = float(np.dot(c, (v - mean) ** 2) / (n - 1)) if n > 1 else 0.0
        q1, med, q3 = weighted_quantiles(v, c, [0.25, 0.5, 0.75])
        mad = mad_from_counts(v, c, med)
        vmin, vmax = float(v.min()), float(v.max())
    else:
        mean = var = q1 = med = q3 = mad = vmin = vmax = 0.0
    return ProfileStats(
        n_rows=n_rows,
        mean_n_tok=mean,
        std_n_tok=float(np.sqrt(var)),
        q1_n_tok=q1,
        median_n_tok=med,
        q3_n_tok=q3,
        mad_n_tok=mad,
        min_n_tok=vmin,
        max_n_tok=vmax,
    )


def global_stats(df: DataFrame, *, exact_quantiles: bool = True) -> ProfileStats:
    """Collect the global fit stats from ONE column-pruned scan.

    The n_tok value-count histogram (nulls kept as their own cell) is a
    plain codegen hash agg; row count, min/max, mean, ddof=1 stddev AND
    the exact quantiles/MAD all derive from it driver-side in float64 —
    no second pass, no ObjectHashAggregate. Deliberately avoids grouped
    HyperLogLog and rollup here — ProfileStats needs neither, and grouped
    HLL agg buffers evict the fast hash-agg path. The full per-partition
    profile with HLL distinct counts lives in profile()."""
    if exact_quantiles:
        hist = df.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt")).collect()
        return stats_from_ntok_counts((r["n_tok"], r["cnt"]) for r in hist)

    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("n_tok").alias("min_n_tok"),
        F.max("n_tok").alias("max_n_tok"),
        F.avg("n_tok").alias("mean_n_tok"),
        F.stddev_samp("n_tok").alias("std_n_tok"),
    ).collect()[0]
    if not row["n_rows"]:
        return ProfileStats(0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    q_row = df.select(
        F.percentile_approx(
            F.col("n_tok").cast("double"),
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            10_000,
        ).alias("q")
    ).collect()[0]
    q1, med, q3 = [float(x) for x in (q_row["q"] or [0.0, 0.0, 0.0])]
    mad_row = df.select(
        F.percentile_approx(
            F.abs(F.col("n_tok").cast("double") - F.lit(med)), F.lit(0.5), 10_000
        ).alias("mad")
    ).collect()[0]
    mad = float(mad_row["mad"] or 0.0)
    return ProfileStats(
        n_rows=int(row["n_rows"]),
        mean_n_tok=float(row["mean_n_tok"] or 0.0),
        std_n_tok=float(row["std_n_tok"] or 0.0),
        q1_n_tok=q1,
        median_n_tok=med,
        q3_n_tok=q3,
        mad_n_tok=mad,
        min_n_tok=float(row["min_n_tok"] or 0.0),
        max_n_tok=float(row["max_n_tok"] or 0.0),
    )
