"""Duplicate-column detection via rank correlation.

Reference parity: SpearmanCheck warns when |Spearman rho| >= 0.98 between
any numeric column pair (/root/reference/pipelines/preprocessing/
statistical/SpearmanCheck.py:23-34, scipy.spearmanr over O(k^2) pairs).

Spark-first, scale-first: Spearman = Pearson on average ranks, and the
average rank of a value depends only on the column's value-count
histogram (avg_rank(v) = #smaller + (count(v) + 1)/2). So ranking needs
NO global sort / single-task window over the rows: per column, one
distributed groupBy(value).count() hash agg; ranks derive driver-side
from the (value, count) pairs and broadcast-join back onto the rows.
The Pearson correlations of ALL pairs then come from sufficient
statistics (sum x, sum y, sum xy, sum x^2, sum y^2, n) in ONE final
scan, instead of k^2 separate df.stat.corr jobs.

Cardinality contract: like every fitted-vocabulary/histogram operator in
this engine, the distinct-value set per column must fit on the driver
(bounded domains — ints, bounded decimals). Nulls are dropped listwise
(rows with a null in any ranked column), matching scipy's
nan_policy='omit' pairwise behavior for null-free columns.

Tie handling matches scipy: average ranks.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.storagelevel import StorageLevel
from pyspark.sql import DataFrame, functions as F, types as T


#: same bounded-domain contract as functions.stats._col_histograms —
#: the per-column distinct set must fit on the driver.
MAX_RANK_CELLS = 2_000_000


def _rank_table(df: DataFrame, col: str, *, max_cells: int = MAX_RANK_CELLS) -> DataFrame:
    """(value, avg_rank) over the distinct values of ``col``.

    Distributed histogram -> driver-side cumulative ranks; the result is
    |distinct| rows, broadcast-joinable by construction. The contract is
    enforced by persisting the aggregated histogram executor-side,
    counting it there, and collecting only under the cap — one upstream
    execution (a LIMIT probe's incremental CollectLimit waves re-ran the
    scan up to 4x under AQE), and an unbounded (continuous) column
    raises instead of silently collecting a row-count-sized histogram."""
    hist = (
        df.filter(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        if hist.count() > max_cells:
            raise ValueError(
                f"spearman rank table for {col!r} exceeds {max_cells} "
                "distinct values — not a bounded domain; bucket/round the "
                "column first"
            )
        pdf = hist.toPandas()
    finally:
        hist.unpersist()
    vals = pdf[col].to_numpy(dtype=np.float64)
    cnts = pdf["_cnt"].to_numpy(dtype=np.int64)
    order = np.argsort(vals, kind="stable")
    vals, cnts = vals[order], cnts[order]
    below = np.concatenate(([0], np.cumsum(cnts)[:-1]))
    avg_rank = below + (cnts + 1) / 2.0
    schema = T.StructType(
        [
            T.StructField("value", df.schema[col].dataType),
            T.StructField("avg_rank", T.DoubleType()),
        ]
    )
    native = pdf[col].tolist()
    pairs = [(native[i], float(avg_rank[j])) for j, i in enumerate(order)]
    return df.sparkSession.createDataFrame(pairs, schema)


def spearman_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col_a, col_b, rho) for every pair.

    Plan: k histogram aggs (one per column) + ONE row scan that
    broadcast-joins the rank tables and aggregates all pairwise
    sufficient statistics. No global window / single-partition sort
    anywhere in the plan (asserted by tests).

    Nulls are dropped LISTWISE (any-null rows removed BEFORE ranking,
    scipy's matrix nan_policy='omit' semantics). Ranking after the drop
    matters: ranks built from each column's own non-null histogram and
    joined afterwards would leave surviving rows with ranks that are no
    longer 1..n, silently skewing rho."""
    base = df.select(*cols).na.drop("any", subset=cols)
    ranked = base
    for c in cols:
        rt = _rank_table(base, c).select(
            F.col("value").alias(c), F.col("avg_rank").alias(f"r_{c}")
        )
        ranked = ranked.join(F.broadcast(rt), c, "inner")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(f"r_{c}").alias(f"s_{c}"))
        aggs.append(F.sum(F.col(f"r_{c}") * F.col(f"r_{c}")).alias(f"ss_{c}"))
    for a, b in combinations(cols, 2):
        aggs.append(F.sum(F.col(f"r_{a}") * F.col(f"r_{b}")).alias(f"sp_{a}_{b}"))
    row = ranked.agg(*aggs).collect()[0]

    out = []
    n = row["n"]
    for a, b in combinations(cols, 2):
        cov = row[f"sp_{a}_{b}"] - row[f"s_{a}"] * row[f"s_{b}"] / n
        va = row[f"ss_{a}"] - row[f"s_{a}"] ** 2 / n
        vb = row[f"ss_{b}"] - row[f"s_{b}"] ** 2 / n
        rho = cov / (va * vb) ** 0.5 if va > 0 and vb > 0 else float("nan")
        out.append((a, b, float(rho)))
    return df.sparkSession.createDataFrame(out, "col_a string, col_b string, rho double")
