"""Distributed PCA over embedding columns: Gramian fit + projection +
reconstruction-error anomaly scoring.

The spectral member of the reference's pluggable-scorer slot (E6 —
pyod's PCA outlier detector, reference pipelines/defaults.py:35-110,
pipelines/control.py:153-154): pyod.models.pca scores a row by its
distance from the principal subspace; here the same semantics run
Spark-first at corpus scale:

* **fit** = one pass of mergeable sufficient statistics
  {n, Σx, Σxxᵀ}: `mapInPandas` emits ONE partial row per input
  partition (numpy ``m.T @ m`` per Arrow batch, accumulated locally —
  nothing row-scale ever shuffles), a fan-in `applyInPandas` stage
  tree-sums partials so the driver collects at most ``fanin`` rows of
  d² doubles (at d=1024 a partial is 8 MB; 32k partitions × 8 MB must
  NOT be collected — the tree stage caps driver intake at fanin × 8 MB
  regardless of cluster size), and the k×k eigensolve is a driver-side
  numpy `eigh` of the d×d covariance (d = embedding width, never the
  row count — same division of labor as scoring.fit_mahalanobis).
* **transform/score** = Arrow-batched matmuls against plan-literal
  component matrices; no Python in the per-row path beyond the
  vectorized UDF, no shuffle at all.

This is also the whitening/compression companion to
similarity.jl_project: JL compresses obliviously (no fit, exactly
portable), PCA compresses optimally for the observed distribution (one
fit pass, float eigenvectors). Both feed the same compress-then-cluster
SemDeDup shape.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T


@dataclass(frozen=True)
class PCAModel:
    """Fitted principal subspace. components is (k, d) row-orthonormal,
    eigenvalues descending; explained_variance are the top-k eigenvalues
    of the ddof=1 sample covariance."""

    n: int
    mean: tuple[float, ...]
    components: tuple[tuple[float, ...], ...]
    explained_variance: tuple[float, ...]
    total_variance: float


_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("gid", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("s", T.ArrayType(T.DoubleType())),
        T.StructField("g", T.ArrayType(T.DoubleType())),
    ]
)


def gram_partials(
    df: DataFrame, vec_col: str, *, dim: int, fanin: int = 32
) -> DataFrame:
    """One {n, Σx, flat(Σxxᵀ)} partial row per input partition, tagged
    gid = partition_id % fanin for the tree fan-in stage. Rows with a
    null vector or a wrong-width vector are skipped (counted out of n);
    the caller sees the effective n in the fitted model."""

    def part(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        g = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            vs = [
                v for v in pdf[vec_col].to_numpy()
                if v is not None and len(v) == dim
            ]
            if not vs:
                continue
            m = np.stack(vs).astype(np.float64)
            n += len(m)
            s += m.sum(axis=0)
            g += m.T @ m
        if n:
            yield pd.DataFrame(
                {
                    "gid": [int(pid) % fanin],
                    "n": [n],
                    "s": [s.tolist()],
                    "g": [g.ravel().tolist()],
                }
            )

    return df.select(vec_col).mapInPandas(part, _PARTIAL_SCHEMA)


def _merge_partials(partials: DataFrame) -> DataFrame:
    """Tree fan-in: sum partials per gid so the driver collects at most
    fanin rows however many partitions the input had."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "gid": [int(pdf["gid"].iloc[0])],
                "n": [int(pdf["n"].sum())],
                "s": [np.sum(np.stack(pdf["s"]), axis=0).tolist()],
                "g": [np.sum(np.stack(pdf["g"]), axis=0).tolist()],
            }
        )

    return partials.groupBy("gid").applyInPandas(merge, _PARTIAL_SCHEMA)


def fit_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    k: int,
    dim: int | None = None,
    fanin: int = 32,
) -> PCAModel:
    """Top-k principal components of an embedding column in one
    distributed pass + a driver-side d×d eigh (see module docstring).

    Like every float reduction, the covariance is summation-order
    dependent in its last ulps; eigenvectors are canonicalized (largest
    |coordinate| made positive) so two fits of the same data agree up
    to float tolerance, not up to sign."""
    if dim is None:
        row = df.select(vec_col).first()
        if row is None or row[0] is None:
            raise ValueError(
                f"fit_pca: cannot infer dim — column {vec_col!r} has no "
                "non-null rows; pass dim= explicitly"
            )
        dim = len(row[0])
    if not 1 <= k <= dim:
        raise ValueError(f"k must be in [1, {dim}], got {k}")
    rows = _merge_partials(
        gram_partials(df, vec_col, dim=dim, fanin=fanin)
    ).collect()
    if not rows:
        raise ValueError("fit_pca: no usable vectors (all null/wrong width)")
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError(f"fit_pca needs >= 2 vectors, got {n}")
    # sort partial groups by gid: pure function of the partial multiset,
    # not of collect order (same argument as stats._robust_from_hist)
    rows = sorted(rows, key=lambda r: r["gid"])
    s = np.sum(np.stack([np.asarray(r["s"]) for r in rows]), axis=0)
    g = np.sum(np.stack([np.asarray(r["g"]) for r in rows]), axis=0).reshape(
        dim, dim
    )
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # (k, d)
    # sign canonicalization: make the largest-|x| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return PCAModel(
        n=int(n),
        mean=tuple(float(x) for x in mu),
        components=tuple(tuple(float(x) for x in c) for c in comps),
        explained_variance=tuple(float(evals[o]) for o in order),
        total_variance=float(np.sum(np.maximum(evals, 0.0))),
    )


def pca_project_udf(model: PCAModel):
    """Arrow-batched projection onto the fitted subspace:
    (x - mean) @ componentsᵀ, one numpy matmul per batch. The model
    ships inside the serialized UDF (plan literal), never re-read."""
    mu = np.asarray(model.mean, dtype=np.float64)
    comps = np.asarray(model.components, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        out = (m - mu) @ comps.T
        return pd.Series(list(out))

    return proj


def pca_score_udf(model: PCAModel):
    """pyod-PCA-style anomaly score: the reconstruction error
    ||(x-μ) - P Pᵀ (x-μ)||₂ — distance from the principal subspace.
    Rows that don't lie in the directions the corpus varies in score
    high; the reference's pluggable pyod PCA detector contract
    (defaults.py:35-110) re-expressed as one Arrow matmul per batch.

    This is also the engine's stand-in for the reference's third pyod
    scorer, the torch AutoEncoder
    (pyod_modified/CustomAutoEncoder/torchCustomAE.py:292,382), which
    scores rows by reconstruction error too: a linear autoencoder with
    k hidden units trained to the squared-error optimum spans the same
    top-k principal subspace, so this score is its linear special case.
    There is no nonlinear variant (no torch in the engine)."""
    mu = np.asarray(model.mean, dtype=np.float64)
    comps = np.asarray(model.components, dtype=np.float64)

    @F.pandas_udf(T.DoubleType())
    def score(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64) - mu
        z = m @ comps.T  # (b, k) coordinates in the subspace
        resid = m - z @ comps  # remove the subspace part
        return pd.Series(np.sqrt(np.sum(resid * resid, axis=1)))

    return score


def pca_compress(
    df: DataFrame,
    *,
    k: int,
    vec_col: str = "embedding",
    out_col: str = "pca_vec",
    dim: int | None = None,
    fanin: int = 32,
) -> tuple[DataFrame, PCAModel]:
    """Fit + project in one call: the PCA alternative to
    similarity.jl_project for compress-then-cluster pipelines. Returns
    (df + out_col, model) so the same model can project future shards
    without refitting (incremental corpora score against the baseline
    subspace — drift in reconstruction error is itself a useful
    monitor)."""
    model = fit_pca(df, vec_col, k=k, dim=dim, fanin=fanin)
    return df.withColumn(out_col, pca_project_udf(model)(F.col(vec_col))), model
