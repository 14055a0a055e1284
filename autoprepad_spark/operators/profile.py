"""The suite's fit stage: the n_tok statistics the marking pass reads.

Every fit step of the reference is a global aggregation executed eagerly per
transformer (Tukey quantiles pipelines/preprocessing/statistical/
TukeyTransformer.py:36-42, MAD median MedianAbsolutDeviation.py:
40-45, Z mean/std ZTransformerMean.py:36-39). Here they come from ONE
column-pruned codegen hash-agg scan: ``part_and_cell_counts`` collects
each partition's row count and the ``(source, n_tok)`` value-count cells
together. Because n_tok is a bounded integer, those cells ARE an exact
mergeable quantile sketch with at most |domain| cells:
``stats_from_ntok_counts`` merges them and derives count, min/max, mean,
ddof=1 stddev, Q1/median/Q3 and the MAD driver-side through
``functions/stats._robust_from_hist``, the engine's one (values, counts)
derivation — no second scan and no F.percentile ObjectHashAggregate,
which buffers every row as boxed objects (measured 3-10x slower at high
parallelism from GC pressure). Unbounded domains take
``functions/stats.fit_robust_multi(method="approx")`` instead, the
percentile_approx sketch (see ``ValidationSuite.exact_quantiles``).

``global_stats`` is the same fit as a standalone scan, and
``profile_table`` the generic per-group + global rollup profile.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, functions as F

from autoprepad_spark.functions.stats import RobustStats, _robust_from_hist

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

    @classmethod
    def from_robust(cls, n_rows: int, rs: RobustStats) -> "ProfileStats":
        return cls(n_rows, rs.mean, rs.std, rs.q1, rs.median, rs.q3, rs.mad,
                   rs.vmin, rs.vmax)

    @property
    def robust(self) -> RobustStats:
        """The n_tok statistics as the robust rules' RobustStats."""
        return RobustStats(
            self.mean_n_tok, self.std_n_tok, self.q1_n_tok, self.median_n_tok,
            self.q3_n_tok, self.mad_n_tok, self.min_n_tok, self.max_n_tok,
        )


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
    cell per source, say) are merged first. The row count includes the
    null cell; every other statistic derives from the non-null cells
    through ``_robust_from_hist``."""
    merged: dict = {}
    for v, n in cells:
        merged[v] = merged.get(v, 0) + n
    nn = [(v, n) for v, n in merged.items() if v is not None]
    rs = _robust_from_hist(
        np.array([v for v, _ in nn], dtype=np.float64),
        np.array([n for _, n in nn], dtype=np.int64),
    )
    return ProfileStats.from_robust(int(sum(merged.values())), rs)


def global_stats(df: DataFrame) -> ProfileStats:
    """Collect the global fit stats from ONE column-pruned scan: the
    n_tok value-count histogram (nulls kept as their own cell), a plain
    codegen hash agg, reduced by ``stats_from_ntok_counts``. The suite
    takes the same cells from its ``part_and_cell_counts`` collect."""
    hist = df.groupBy("n_tok").agg(F.count(F.lit(1)).alias("cnt")).collect()
    return stats_from_ntok_counts((r["n_tok"], r["cnt"]) for r in hist)
