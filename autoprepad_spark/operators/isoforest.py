"""Isolation-forest-family anomaly scorers — the nonlinear member of
the reference's pluggable pyod scorer axis.

Reference parity: /root/reference/pipelines/defaults.py:35-110 offers
three pyod scorers (PCA, IForest, AutoEncoder) behind the
``decision_function``/``predict`` contract (pyod base.py:443-455). The
engine already carries the linear/distance analogs (robust-Z ensemble,
Mahalanobis, PCA reconstruction error — operators/scoring.py,
operators/spectral.py); this module adds the isolation archetype:

* ``fit_isolation_forest`` / ``isolation_scores`` — Liu et al. 2008
  proper: random-feature / random-threshold trees grown on a BOUNDED,
  DETERMINISTIC sample until isolation, scored row-local as
  ``2^(-E[path]/c(psi))``. The fit is the engine's standard
  driver-bounded-model shape (classifier.py / lm_quality.py): the
  sample is md5-rank selected (parallelism-independent multiset —
  a top-k TakeOrderedAndProject, never a full sort), trees are built
  in numpy with a seeded PCG64, and the whole forest ships to
  executors as a closure of ONE Arrow pandas UDF whose traversal is
  vectorized across the batch (no per-row Python). At 10^12 rows the
  fit cost is constant (n_trees x psi rows through the driver) and
  scoring is an embarrassingly-parallel single pass.

* ``hs_mass_scores`` / ``hs_oracle_sql`` — the cross-engine-EXACT
  variant for the correctness harness, in the md5int-ANN mold
  (similarity.py:80): half-space mass trees (Tan et al. 2011 HS-Trees,
  simplified to fixed depth). Tree structure is DATA-INDEPENDENT —
  the feature tested at (tree, level) is ``md5(seed:hst:t:l) % d`` and
  every split is the midpoint of the remaining box, so a row's leaf in
  tree t is a pure closed-form expression over its min-max-normalized
  coordinates: the l-th bit is the c-th binary digit of z_f (c = how
  many times feature f has been used on the path). Leaf masses are the
  fitted row counts per (tree, leaf); the anomaly signal is the
  INTEGER total mass across trees (low = isolated = anomalous), which
  DuckDB recomputes bit-for-bit because every expression is shared
  VERBATIM between the Spark plan and the oracle SQL (the pii/urlfilter
  pattern), min/max normalizers are recomputed by both engines from
  the same parquet, and the final comparison is integer equality — no
  float round-trip in the answer.

Scale shape: mass table <= n_trees * 2^depth rows (kilobytes) —
broadcast joined; the explode is x n_trees on (key, leaf) pairs only.
The production iForest needs no join at all.
"""

from __future__ import annotations

import hashlib
import math

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

_EULER = 0.5772156649015329

#: clamp keeping normalized coordinates strictly below 1.0 so the
#: top-of-range value falls in the last box, not past it; 2^-20 is
#: exactly representable, so `1.0 - _CLAMP` is the same double in every
#: engine that parses the literal
_CLAMP_LIT = "9.5367431640625e-07"


def _c_factor(n: int) -> float:
    """Average unsuccessful-search path length in a BST of n nodes —
    the iForest normalizer c(n) (Liu et al. 2008 eq. 1)."""
    if n <= 1:
        return 0.0
    if n == 2:
        return 1.0
    h = math.log(n - 1) + _EULER
    return 2.0 * h - 2.0 * (n - 1) / n


@dataclass
class IsolationForest:
    """Fitted forest: parallel numpy arrays per tree.

    feature[i] >= 0 -> internal node testing X[:, feature] < thresh;
    feature[i] == -1 -> leaf; depth[i] + adj[i] is the path length a
    row terminating there reports (adj = c(node sample size), the
    subtree-that-was-not-grown correction)."""

    cols: list[str]
    psi: int
    trees: list[dict]
    seed: int

    @property
    def expected_path(self) -> float:
        return _c_factor(self.psi)


def _build_tree(X: np.ndarray, rng: np.random.Generator, height_limit: int) -> dict:
    feature: list[int] = []
    thresh: list[float] = []
    left: list[int] = []
    right: list[int] = []
    depth_a: list[int] = []
    adj: list[float] = []

    def grow(idx: np.ndarray, depth: int) -> int:
        node = len(feature)
        feature.append(-1)
        thresh.append(0.0)
        left.append(-1)
        right.append(-1)
        depth_a.append(depth)
        adj.append(0.0)
        n = len(idx)
        if depth >= height_limit or n <= 1:
            adj[node] = _c_factor(n)
            return node
        # random feature among those with spread at this node; if every
        # column is constant here the node is unsplittable -> leaf
        spread = [f for f in range(X.shape[1])
                  if X[idx, f].min() < X[idx, f].max()]
        if not spread:
            adj[node] = _c_factor(n)
            return node
        f = int(spread[rng.integers(0, len(spread))])
        lo, hi = float(X[idx, f].min()), float(X[idx, f].max())
        t = float(rng.uniform(lo, hi))
        mask = X[idx, f] < t
        feature[node] = f
        thresh[node] = t
        left[node] = grow(idx[mask], depth + 1)
        right[node] = grow(idx[~mask], depth + 1)
        return node

    grow(np.arange(len(X)), 0)
    return {
        "feature": np.asarray(feature, dtype=np.int32),
        "thresh": np.asarray(thresh, dtype=np.float64),
        "left": np.asarray(left, dtype=np.int32),
        "right": np.asarray(right, dtype=np.int32),
        "depth": np.asarray(depth_a, dtype=np.float64),
        "adj": np.asarray(adj, dtype=np.float64),
    }


def fit_isolation_forest(
    df: DataFrame,
    cols: list[str],
    *,
    n_trees: int = 100,
    sample_size: int = 256,
    seed: int = 7,
) -> IsolationForest:
    """Fit on a deterministic bounded sample; constant driver cost.

    The sample is the n_trees * sample_size rows with the SMALLEST
    md5(values) rank — a TakeOrderedAndProject (per-partition top-k +
    driver merge), so the selected VALUE multiset is identical at any
    parallelism (hash ties carry identical values by construction).
    Rows with a null/NaN in any scored column are excluded from the
    fit (the completeness checks own them). Each tree trains on its
    own slice of the hash-shuffled sample, matching iForest's
    sub-sampling-per-tree design without a second pass.
    """
    from pyspark.sql.types import NumericType

    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in fields:
            raise ValueError(f"column {c!r} not in frame")
        if not isinstance(fields[c], NumericType):
            raise ValueError(
                f"fit_isolation_forest needs numeric columns; {c!r} is "
                f"{fields[c].simpleString()}")
    if not cols:
        raise ValueError("no columns to fit on")
    want = n_trees * sample_size
    cleaned = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    cond = None
    for c in cols:
        k = F.col(c).isNotNull() & ~F.isnan(F.col(c))
        cond = k if cond is None else (cond & k)
    cleaned = cleaned.filter(cond)
    ranked = cleaned.orderBy(
        F.md5(F.concat_ws("\x1f",
                          F.lit(str(seed)),
                          *[F.col(c).cast("string") for c in cols])),
        *cols,
    ).limit(want)
    rows = ranked.collect()
    if not rows:
        raise ValueError("no complete rows to fit the forest on")
    X = np.asarray([[r[c] for c in cols] for r in rows], dtype=np.float64)
    psi = min(sample_size, len(X))
    height_limit = int(math.ceil(math.log2(max(psi, 2))))
    trees = []
    for t in range(n_trees):
        rng = np.random.default_rng([seed, t])
        if len(X) >= want:
            sub = X[t * sample_size:(t + 1) * sample_size]
        else:
            sub = X[rng.choice(len(X), size=psi, replace=len(X) < psi)]
        trees.append(_build_tree(sub, rng, height_limit))
    return IsolationForest(cols=list(cols), psi=psi, trees=trees, seed=seed)


def _vector_paths(X: np.ndarray, tree: dict) -> np.ndarray:
    """Vectorized traversal: the whole batch walks one level per
    iteration; finished rows park at their leaf (left/right of a leaf
    is -1, never followed because feature == -1 masks them out)."""
    nodes = np.zeros(len(X), dtype=np.int64)
    while True:
        f = tree["feature"][nodes]
        active = np.flatnonzero(f >= 0)
        if active.size == 0:
            break
        an = nodes[active]
        vals = X[active, f[active]]
        goleft = vals < tree["thresh"][an]
        nodes[active] = np.where(goleft, tree["left"][an], tree["right"][an])
    return tree["depth"][nodes] + tree["adj"][nodes]


def isolation_scores(
    df: DataFrame,
    model: IsolationForest,
    *,
    output_col: str = "iforest_score",
) -> DataFrame:
    """Append the iForest anomaly score ``2^(-E[path]/c(psi))`` in
    (0, 1]; higher = more anomalous, ~0.5 = inlier for psi-scale data.

    One Arrow pandas UDF, model in the closure (plan literal — no join,
    no shuffle, no extra pass). Rows with null/NaN in any scored column
    get a NULL score (Arrow maps the batch's NaN back to SQL null) —
    the completeness checks own incomplete rows."""
    cols = model.cols
    trees = model.trees
    denom = model.expected_path or 1.0

    @F.pandas_udf(T.DoubleType())
    def _score(*series: pd.Series) -> pd.Series:
        X = np.column_stack([s.to_numpy(dtype=np.float64) for s in series])
        ok = ~np.isnan(X).any(axis=1)
        out = np.full(len(X), np.nan)
        if ok.any():
            Xv = X[ok]
            acc = np.zeros(len(Xv))
            for tr in trees:
                acc += _vector_paths(Xv, tr)
            out[ok] = np.power(2.0, -(acc / len(trees)) / denom)
        return pd.Series(out)

    return df.withColumn(output_col, _score(*[F.col(c) for c in cols]))


# ---------------------------------------------------------------------------
# half-space mass trees: the cross-engine-exact oracle variant
# ---------------------------------------------------------------------------

def hs_feature_map(n_cols: int, n_trees: int, depth: int, seed: int) -> list[list[int]]:
    """(tree, level) -> feature index, derived purely from md5 so the
    map is a constant both engines share (baked into generated SQL)."""
    return [
        [
            int(hashlib.md5(f"{seed}:hst:{t}:{l}".encode()).hexdigest()[:8], 16)
            % n_cols
            for l in range(depth)
        ]
        for t in range(n_trees)
    ]


def _z_fragment(col: str, j: int) -> str:
    """Min-max normalization to [0, 1-2^-20] against the mn{j}/mx{j}
    stat columns both engines provide; constant columns collapse to
    0.0 instead of dividing by zero."""
    q = f"CAST(`{col}` AS DOUBLE)"
    return (
        f"CASE WHEN mx{j} = mn{j} THEN 0.0 ELSE "
        f"LEAST(GREATEST(({q} - mn{j}) / (mx{j} - mn{j}), 0.0), "
        f"1.0 - {_CLAMP_LIT}) END"
    )


def hs_leaf_fragments(
    cols: list[str], n_trees: int, depth: int, seed: int
) -> list[str]:
    """Per-tree leaf-id SQL expressions (shared verbatim Spark/DuckDB).

    With midpoint splits of an [0,1] box, using feature f for the c-th
    time on a path reads the c-th binary digit of z_f:
    ``floor(z_f * 2^c) % 2``. The leaf id packs the level bits."""
    fmap = hs_feature_map(len(cols), n_trees, depth, seed)
    frags = []
    for t in range(n_trees):
        used: dict[int, int] = {}
        bits = []
        for l in range(depth):
            f = fmap[t][l]
            used[f] = used.get(f, 0) + 1
            z = _z_fragment(cols[f], f)
            bits.append(
                f"(CAST(FLOOR(({z}) * {float(2 ** used[f])!r}) AS BIGINT) % 2)"
                f" * {1 << l}"
            )
        frags.append("(" + " + ".join(bits) + ")")
    return frags


def hs_mass_scores(
    df: DataFrame,
    cols: list[str],
    key_cols: list[str],
    *,
    n_trees: int = 8,
    depth: int = 6,
    seed: int = 77,
) -> DataFrame:
    """Per-row INTEGER total leaf mass across half-space trees
    (low = isolated = anomalous). Output: key_cols + total_mass.

    Plan: one tiny min/max agg broadcast onto the scan; leaf ids are
    pure codegen expressions; the (tree, leaf) mass table is
    <= n_trees * 2^depth rows, broadcast back onto the exploded
    (key, tree, leaf) frame; final groupBy(key) sums n_trees rows per
    key. Fit and score populations are the same frame (the HS-Trees
    reference-window semantics) — at 10^12 rows you would persist
    `leaves` once instead of recomputing it for both branches; at
    validation scale the double scan is cheaper than the checkpoint.
    Rows with a null or NaN in any scored column are left out of both
    the fit and the output: a NaN would otherwise become its column's
    max and move every other row's box.
    """
    for c in [*cols, *key_cols]:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in frame")
    cond = None
    for c in cols:
        k = F.col(c).isNotNull() & ~F.isnan(F.col(c))
        cond = k if cond is None else (cond & k)
    complete = df.filter(cond)
    # min/max fit on the SAME null-complete population the trees score
    # (a value living only on an excluded row must not stretch a box —
    # and the oracle's stats CTE filters identically, so the normalizers
    # are bit-equal by construction; caught by the cross-engine fuzz)
    stats = complete.agg(*[
        a for j, c in enumerate(cols) for a in (
            F.min(F.col(c).cast("double")).alias(f"mn{j}"),
            F.max(F.col(c).cast("double")).alias(f"mx{j}"),
        )
    ])
    norm = complete.crossJoin(F.broadcast(stats))
    frags = hs_leaf_fragments(cols, n_trees, depth, seed)
    leaves = norm.select(
        *key_cols,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("tree"), F.expr(frag).alias("leaf"))
            for t, frag in enumerate(frags)
        ])).alias("tl"),
    ).select(*key_cols, "tl.tree", "tl.leaf")
    mass = leaves.groupBy("tree", "leaf").agg(F.count(F.lit(1)).alias("m"))
    return (
        leaves.join(F.broadcast(mass), ["tree", "leaf"])
        .groupBy(*key_cols)
        .agg(F.sum("m").alias("total_mass"))
    )


def hs_oracle_sql(
    table: str,
    cols: list[str],
    key_cols: list[str],
    *,
    n_trees: int = 8,
    depth: int = 6,
    seed: int = 77,
    limit: int | None = None,
) -> str:
    """DuckDB SQL recomputing hs_mass_scores exactly: same verbatim
    leaf fragments, min/max re-derived from the same table, integer
    masses — equality needs no tolerance."""
    frags = hs_leaf_fragments(cols, n_trees, depth, seed)
    keys = ", ".join(f'"{k}"' for k in key_cols)
    stat_sel = ", ".join(
        f'min(CAST("{c}" AS DOUBLE)) AS mn{j}, '
        f'max(CAST("{c}" AS DOUBLE)) AS mx{j}'
        for j, c in enumerate(cols)
    )
    nonnull = " AND ".join(
        f'"{c}" IS NOT NULL AND NOT isnan(CAST("{c}" AS DOUBLE))' for c in cols
    )
    branches = " UNION ALL ".join(
        "SELECT {k}, {t} AS tree, {f} AS leaf FROM norm".format(
            k=keys, t=t, f=frag.replace("`", '"'))
        for t, frag in enumerate(frags)
    )
    tail = ""
    if limit is not None:
        tail = f" ORDER BY total_mass ASC, {keys} LIMIT {limit}"
    return f"""
WITH s AS (SELECT {stat_sel} FROM {table} WHERE {nonnull}),
norm AS (SELECT * FROM {table}, s WHERE {nonnull}),
leaves AS ({branches}),
mass AS (SELECT tree, leaf, count(*) AS m FROM leaves GROUP BY 1, 2)
SELECT {keys}, SUM(m) AS total_mass
FROM leaves JOIN mass USING (tree, leaf)
GROUP BY {keys}{tail}
"""
