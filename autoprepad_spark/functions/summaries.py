"""Mergeable one-pass column summaries for UNBOUNDED value domains:
a deterministic rank (quantile) summary and a Misra-Gries frequency
(heavy-hitter) summary.

Positioning against the engine's existing fit paths
(`functions/stats.py`, `operators/incremental.py`):

- ``method='hist'`` fits are EXACT but require a bounded value domain
  (<= MAX_HIST_CELLS distinct cells after quantization).
- ``method='approx'`` uses Spark's ``percentile_approx`` — handles
  continuous domains, but the sketch lives and dies inside one job:
  it is not exportable, not mergeable across shards/days/clusters,
  and surfaces no certified error bound.
- These summaries close that gap: they are kilobyte-scale FRAMES
  (like `incremental.shard_profile` histograms) that merge by the
  single uniform rule ``groupBy(col, kind, v).sum(w)`` — so a 100-TB
  corpus can be profiled shard-by-shard, the per-shard summaries
  persisted, and the global fit derived from their merge without ever
  re-reading history (same design as the incremental dedup index,
  `incremental.py`). They are DETERMINISTIC (no RNG, unlike KLL/
  reservoir sketches), EXACT below capacity, and carry a certified
  worst-case error above it.

Reference parity: the reference profiles columns in memory with pandas
``df.quantile()`` / ``Series.value_counts()`` (AutoPrepAD
pipelines/preprocessing, e.g. statistical outlier fits); these are the
distributed, mergeable equivalents for columns whose domains cannot be
bounded in advance (prices, losses, latencies, URL/domain strings).

Rank (quantile) summary
-----------------------
Per partition, per column: sort the non-null values and emit the
1-based order statistics at ranks ``1, s, 2s, ..., n_p`` where
``s = ceil(n_p / m)``, each carrying the rank gap as its weight
(weights sum to n_p; the emitted value's merged cumulative weight IS
its exact rank within the partition). Estimated global rank of any x
is off by less than ``s`` per partition, so the merged summary answers
any quantile with rank error

    |rank_est - rank_true| <= sum_p ceil(n_p / m) ~ n/m + P

(P = number of partitions). With the default m=4096 that is ~0.024 %
of n — and when every partition holds at most m values (``n_p <= m``)
the summary degenerates to the exact value-count histogram, making
every downstream statistic EXACTLY equal to the ``method='hist'`` fit
(np.quantile linear-interpolation parity via
`stats.weighted_quantiles`). Exact moments (n, sum, sum of squares)
ride the same single scan, so mean/std are always exact regardless of
capacity.

Memory: the build buffers one partition's worth of the selected
columns as float64 (8 * n_p bytes per column) — the same order as
Spark's own sort buffer; size `spark.sql.files.maxPartitionBytes`
accordingly, exactly like the engine's other mapInPandas passes.

Frequency (heavy-hitter) summary
--------------------------------
Per partition, per column: batched Misra-Gries over Arrow batches with
``cap`` counters. When the counter table overflows, every counter is
decremented by the smallest amount d that evicts the excess (classic
MG step, vectorized via np.partition) and d is accumulated into a
per-partition ``dec`` cell that the summary CARRIES: after merging,
``count_lo = sum of stored counts`` is a certified lower bound and
``count_lo + sum(dec)`` a certified upper bound on the true count.
When no partition ever overflowed (distinct_p <= cap) the summary is
the exact value-count table and ``sum(dec) = 0`` — exactness is
*detectable at runtime*, not assumed. Deterministic for a fixed
partitioning; the exact (dec=0) result is independent of partitioning
and merge order.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from autoprepad_spark.functions.stats import (
    RobustStats,
    mad_from_counts,
    weighted_quantiles,
)

# one uniform schema for both summaries: moments/null/dec rows keep the
# payload in w (v NULL); value rows keep the value in v and its count
# in w. Counts as double are exact to 2^53 rows — far past 100 TB.
QSUMMARY_SCHEMA = "col string, kind string, v double, w double"
FSUMMARY_SCHEMA = "col string, kind string, item string, w double"

DEFAULT_M = 4096
DEFAULT_CAP = 4096
# collect guard, same role as stats.MAX_HIST_CELLS: the merged summary
# is bounded by P * m * |cols| cells; refuse a driver collect past this.
MAX_SUMMARY_CELLS = 2_000_000


# ---------------------------------------------------------------------------
# rank / quantile summary
# ---------------------------------------------------------------------------


def quantile_summary(df: DataFrame, cols: list[str], *, m: int = DEFAULT_M) -> DataFrame:
    """One-pass mergeable rank summary of ``cols`` (see module doc).

    Emits per partition, per column:
      kind='q'     — (v=order statistic, w=rank gap), <= m+2 rows
      kind='null'  — (v=NULL, w=null count)
      kind='n' / 'sum' / 'sumsq' — exact moments in w

    The scan reads only ``cols`` (column pruning reaches the parquet
    scan; the cast happens before mapInPandas so Arrow moves float64).
    Merge summaries from different shards with `merge_summaries`.
    """
    if m < 2:
        raise ValueError("m must be >= 2")
    src = df.select(*[F.col(c).cast("double").alias(c) for c in cols])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bufs: dict[str, list[np.ndarray]] = {c: [] for c in cols}
        nulls = {c: 0 for c in cols}
        for pdf in batches:
            for c in cols:
                a = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                mask = ~np.isnan(a)
                nulls[c] += int(a.size - mask.sum())
                if mask.any():
                    bufs[c].append(a[mask])
        out_col, out_kind, out_v, out_w = [], [], [], []
        for c in cols:
            vals = (
                np.concatenate(bufs[c])
                if bufs[c]
                else np.empty(0, dtype=np.float64)
            )
            n = vals.size
            if n:
                vals.sort(kind="stable")
                step = max(1, math.ceil(n / m))
                # 1-based ranks: 1, step, 2*step, ..., n (max always kept)
                ranks = np.unique(
                    np.concatenate(
                        [[1], np.arange(step, n + 1, step), [n]]
                    ).astype(np.int64)
                )
                picked = vals[ranks - 1]
                gaps = np.diff(np.concatenate([[0], ranks])).astype(np.float64)
                out_col += [c] * len(picked)
                out_kind += ["q"] * len(picked)
                out_v += picked.tolist()
                out_w += gaps.tolist()
                out_col += [c, c]
                out_kind += ["sum", "sumsq"]
                out_v += [None, None]
                out_w += [float(vals.sum()), float(np.square(vals).sum())]
            out_col += [c, c]
            out_kind += ["n", "null"]
            out_v += [None, None]
            out_w += [float(n), float(nulls[c])]
        yield pd.DataFrame(
            {"col": out_col, "kind": out_kind, "v": out_v, "w": out_w}
        )

    return src.mapInPandas(build, QSUMMARY_SCHEMA)


def merge_summaries(*summaries: DataFrame) -> DataFrame:
    """Merge rank summaries (any shards, any order): one uniform rule.

    Equal-valued order statistics combine weights; moments / null /
    counts sum. The result is itself a valid summary whose rank-error
    bound is the sum of its inputs' bounds (exact inputs merge to an
    exact histogram)."""
    out = summaries[0].select("col", "kind", "v", "w")
    for s in summaries[1:]:
        out = out.unionByName(s.select("col", "kind", "v", "w"))
    return out.groupBy("col", "kind", "v").agg(F.sum("w").alias("w"))


def fit_from_summary(
    summary: DataFrame,
    cols: list[str] | None = None,
    *,
    max_cells: int = MAX_SUMMARY_CELLS,
) -> dict[str, RobustStats]:
    """{col: RobustStats} from a (merged) rank summary.

    Quantiles/MAD via the engine's np.quantile-parity helpers over the
    (value, weight) rows — EXACT when every contributing partition was
    below capacity, rank-error-bounded otherwise. Mean/std are always
    exact (moment cells). The collect is guarded like the hist fit:
    the frame stays executor-side until the cell count is verified
    bounded (LIMIT probe, no extra action)."""
    pdf = (
        summary.groupBy("col", "kind", "v")
        .agg(F.sum("w").alias("w"))
        .limit(max_cells + 1)
        .toPandas()
    )
    if len(pdf) > max_cells:
        raise ValueError(
            f"summary exceeds {max_cells} cells — lower m or merge "
            "shard summaries before fitting"
        )
    if cols is None:
        cols = sorted(pdf["col"].unique())
    out: dict[str, RobustStats] = {}
    for c in cols:
        sub = pdf[pdf["col"] == c]
        moms = {
            k: float(sub.loc[sub["kind"] == k, "w"].sum())
            for k in ("n", "sum", "sumsq")
        }
        n = int(moms["n"])
        qrows = sub[sub["kind"] == "q"]
        if n == 0 or qrows.empty:
            out[c] = RobustStats(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
            continue
        v = qrows["v"].to_numpy(dtype=np.float64)
        w = qrows["w"].to_numpy(dtype=np.float64).astype(np.int64)
        mean = moms["sum"] / n
        var = (
            max(0.0, (moms["sumsq"] - n * mean * mean) / (n - 1))
            if n > 1
            else 0.0
        )
        q1, med, q3 = weighted_quantiles(v, w, [0.25, 0.5, 0.75])
        out[c] = RobustStats(
            mean=mean,
            std=float(np.sqrt(var)),
            q1=q1,
            median=med,
            q3=q3,
            mad=mad_from_counts(v, w, med),
            vmin=float(v.min()),
            vmax=float(v.max()),
        )
    return out


def summary_null_counts(summary: DataFrame) -> DataFrame:
    """(col, n_rows, n_null) from a rank summary — pure aggregation."""
    return (
        summary.filter(F.col("kind").isin("n", "null"))
        .groupBy("col")
        .agg(
            F.sum(F.when(F.col("kind") == "n", F.col("w")).otherwise(F.lit(0.0)))
            .cast("long")
            .alias("n_rows"),
            F.sum(F.when(F.col("kind") == "null", F.col("w")).otherwise(F.lit(0.0)))
            .cast("long")
            .alias("n_null"),
        )
    )


# ---------------------------------------------------------------------------
# frequency / heavy-hitter summary (batched Misra-Gries)
# ---------------------------------------------------------------------------


def freq_summary(
    df: DataFrame, cols: list[str], *, cap: int = DEFAULT_CAP
) -> DataFrame:
    """One-pass mergeable Misra-Gries frequency summary of ``cols``.

    Emits per partition, per column:
      kind='item' — (item, w=stored count: a certified LOWER bound)
      kind='dec'  — (item=NULL, w=total decrement: the certified
                     worst-case undercount for ANY item)
      kind='null' — (item=NULL tag 'null', w=null count)

    Counter table is bounded at ``cap`` entries; overflow triggers the
    classic MG decrement (vectorized: the d-th smallest count such
    that <= cap survive), accumulated into the dec cell. distinct_p <=
    cap means dec = 0 and the summary is exact."""
    if cap < 1:
        raise ValueError("cap must be >= 1")
    src = df.select(*[F.col(c).cast("string").alias(c) for c in cols])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, pd.Series] = {
            c: pd.Series(dtype=np.int64) for c in cols
        }
        decs = {c: 0 for c in cols}
        nulls = {c: 0 for c in cols}
        for pdf in batches:
            for c in cols:
                s = pdf[c]
                nulls[c] += int(s.isna().sum())
                vc = s.dropna().value_counts()
                if vc.empty:
                    continue
                counts[c] = counts[c].add(vc, fill_value=0).astype(np.int64)
                if len(counts[c]) > cap:
                    arr = counts[c].to_numpy()
                    # smallest d evicting the excess: the (len-cap)-th
                    # smallest counter (all counters shrink by d;
                    # non-positive ones drop)
                    kth = len(arr) - cap - 1
                    d = int(np.partition(arr, kth)[kth])
                    decs[c] += d
                    kept = counts[c] - d
                    counts[c] = kept[kept > 0].astype(np.int64)
        frames = []
        for c in cols:
            items = counts[c]
            frames.append(
                pd.DataFrame(
                    {
                        "col": c,
                        "kind": "item",
                        "item": items.index.astype(str),
                        "w": items.to_numpy(dtype=np.float64),
                    }
                )
            )
            frames.append(
                pd.DataFrame(
                    {
                        "col": [c, c],
                        "kind": ["dec", "null"],
                        "item": [None, None],
                        "w": [float(decs[c]), float(nulls[c])],
                    }
                )
            )
        yield pd.concat(frames, ignore_index=True)

    return src.mapInPandas(build, FSUMMARY_SCHEMA)


def merge_freq_summaries(*summaries: DataFrame) -> DataFrame:
    """Merge frequency summaries: counts/dec/null cells sum. The merged
    dec cell remains a certified undercount bound (errors add)."""
    out = summaries[0].select("col", "kind", "item", "w")
    for s in summaries[1:]:
        out = out.unionByName(s.select("col", "kind", "item", "w"))
    return out.groupBy("col", "kind", "item").agg(F.sum("w").alias("w"))


def topk_from_summary(summary: DataFrame, k: int) -> DataFrame:
    """Global top-k per column from a (merged) frequency summary:
    (col, item, count_lo, max_undercount), ordered and tie-broken
    deterministically (count desc, item asc). count_lo is certain;
    the true count is <= count_lo + max_undercount, and
    max_undercount == 0 certifies the counts (and the k-set) exact.

    Distributed: the summary is already <= P * cap rows per column;
    the window ranks within each column's tiny group."""
    from pyspark.sql import Window

    items = (
        summary.filter(F.col("kind") == "item")
        .groupBy("col", "item")
        .agg(F.sum("w").cast("long").alias("count_lo"))
    )
    dec = (
        summary.filter(F.col("kind") == "dec")
        .groupBy("col")
        .agg(F.sum("w").cast("long").alias("max_undercount"))
    )
    win = Window.partitionBy("col").orderBy(
        F.col("count_lo").desc(), F.col("item").asc()
    )
    return (
        items.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= k)
        .drop("rk")
        .join(F.broadcast(dec), "col", "left")
        .select("col", "item", "count_lo", "max_undercount")
    )
