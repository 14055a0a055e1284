"""Isolation-forest-family scorers (operators/isoforest.py).

The reference's pluggable pyod axis offers IForest
(/root/reference/pipelines/defaults.py:35-110); pyod is not in this
container, so parity is pinned three independent ways:

* behavioral — engineered far outliers rank strictly above a dense
  cluster, uniform data scores near the iForest 0.5 inlier line;
* mechanical — the vectorized batch traversal equals a plain
  per-row recursive walk of the same fitted trees;
* determinism — the md5-rank sample makes fit + scores identical
  across input parallelism (the engine-wide invariant).

The half-space mass-tree variant is pinned EXACTLY against DuckDB:
integer total masses from shared-verbatim SQL fragments.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from autoprepad_spark.operators.isoforest import (
    IsolationForest,
    _c_factor,
    fit_isolation_forest,
    hs_mass_scores,
    hs_oracle_sql,
    isolation_scores,
)


def _cluster_frame(spark, n_in=2000, n_out=15):
    rng = np.random.default_rng(42)
    pts = rng.normal(loc=[5.0, 50.0, 0.5], scale=[1.0, 4.0, 0.05],
                     size=(n_in, 3))
    rows = [Row(id=i, a=float(p[0]), b=float(p[1]), c=float(p[2]))
            for i, p in enumerate(pts)]
    # far outliers, well outside the cluster in at least one axis
    out = rng.uniform(low=[40.0, 300.0, 5.0], high=[60.0, 400.0, 8.0],
                      size=(n_out, 3))
    rows += [Row(id=n_in + i, a=float(p[0]), b=float(p[1]), c=float(p[2]))
             for i, p in enumerate(out)]
    return (
        spark.createDataFrame(rows, schema="id long, a double, b double, c double"),
        set(range(n_in, n_in + n_out)),
    )


@pytest.fixture(scope="module")
def fitted(spark):
    df, outliers = _cluster_frame(spark)
    model = fit_isolation_forest(df, ["a", "b", "c"],
                                 n_trees=50, sample_size=128, seed=3)
    return df, outliers, model


def test_outliers_ranked_top(fitted):
    df, outliers, model = fitted
    scored = isolation_scores(df, model).orderBy(
        F.desc("iforest_score"), "id").limit(len(outliers)).collect()
    assert {r["id"] for r in scored} == outliers
    assert all(0.0 < r["iforest_score"] <= 1.0 for r in scored)


def test_uniform_scores_near_inlier_line(spark):
    """For data with no structure, E[path] ~ c(psi) so scores sit near
    0.5 (Liu et al. 2008 §4) — a calibration check no ranking test
    gives."""
    rng = np.random.default_rng(7)
    rows = [Row(a=float(x), b=float(y))
            for x, y in rng.uniform(0, 1, size=(3000, 2))]
    df = spark.createDataFrame(rows, schema="a double, b double")
    model = fit_isolation_forest(df, ["a", "b"], n_trees=60,
                                 sample_size=256, seed=5)
    mean = isolation_scores(df, model).agg(
        F.avg("iforest_score")).collect()[0][0]
    assert 0.35 < mean < 0.6


def test_vectorized_matches_recursive(fitted):
    """The Arrow-batched level-synchronous traversal must equal a
    plain one-row-at-a-time recursive walk of the same trees."""
    df, _, model = fitted
    sample = df.orderBy("id").limit(200).collect()

    def walk(tree, x):
        n = 0
        while tree["feature"][n] >= 0:
            f = int(tree["feature"][n])
            n = int(tree["left"][n]) if x[f] < tree["thresh"][n] \
                else int(tree["right"][n])
        return float(tree["depth"][n] + tree["adj"][n])

    got = {r["id"]: r["iforest_score"]
           for r in isolation_scores(df, model).collect()}
    denom = model.expected_path
    for r in sample:
        x = [r["a"], r["b"], r["c"]]
        paths = [walk(t, x) for t in model.trees]
        want = 2.0 ** (-(sum(paths) / len(paths)) / denom)
        assert abs(got[r["id"]] - want) < 1e-12, r["id"]


def test_fit_and_scores_parallelism_independent(spark, fitted):
    df, _, model = fitted
    m4 = fit_isolation_forest(df.repartition(4), ["a", "b", "c"],
                              n_trees=50, sample_size=128, seed=3)
    m16 = fit_isolation_forest(df.repartition(16), ["a", "b", "c"],
                               n_trees=50, sample_size=128, seed=3)
    for ta, tb in zip(m4.trees, m16.trees):
        assert np.array_equal(ta["feature"], tb["feature"])
        assert np.array_equal(ta["thresh"], tb["thresh"])
    s4 = {r["id"]: r["iforest_score"]
          for r in isolation_scores(df.repartition(4), m4).collect()}
    s16 = {r["id"]: r["iforest_score"]
           for r in isolation_scores(df.repartition(16), m16).collect()}
    assert s4 == s16


def test_guards_and_nan_rows(spark):
    df = spark.createDataFrame(
        [Row(a=1.0, s="x"), Row(a=float("nan"), s="y"), Row(a=None, s="z")],
        schema="a double, s string")
    with pytest.raises(ValueError, match="numeric"):
        fit_isolation_forest(df, ["s"])
    with pytest.raises(ValueError, match="not in frame"):
        fit_isolation_forest(df, ["nope"])
    model = fit_isolation_forest(df, ["a"], n_trees=4, sample_size=4)
    got = {r["s"]: r["iforest_score"]
           for r in isolation_scores(df, model).collect()}
    assert got["x"] is not None and not math.isnan(got["x"])
    # Arrow maps the batch's NaN to SQL null: incomplete rows score null
    assert got["y"] is None and got["z"] is None


def test_c_factor_values():
    # c(2) = 1 by definition; c(256) ~ 10.24 (2(ln255+gamma) - 2*255/256)
    assert _c_factor(1) == 0.0 and _c_factor(2) == 1.0
    want = 2 * (math.log(255) + 0.5772156649015329) - 2 * 255 / 256
    assert abs(_c_factor(256) - want) < 1e-12


def test_hs_mass_exact_vs_duckdb(spark, tmp_path):
    df, outliers = _cluster_frame(spark, n_in=1500, n_out=10)
    p = str(tmp_path / "hs.parquet")
    df.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    got = {r["id"]: r["total_mass"]
           for r in hs_mass_scores(back, ["a", "b", "c"], ["id"],
                                   n_trees=8, depth=6, seed=77).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    want = dict(con.execute(
        hs_oracle_sql("t", ["a", "b", "c"], ["id"],
                      n_trees=8, depth=6, seed=77)).fetchall())
    assert got == want
    # low-mass ranking isolates the engineered outliers
    bottom = sorted(got, key=lambda i: (got[i], i))[:10]
    assert set(bottom) == outliers


def test_hs_constant_column_and_null_rows(spark):
    rows = [Row(id=i, a=float(i % 7), b=1.0) for i in range(200)]
    rows.append(Row(id=999, a=None, b=1.0))
    df = spark.createDataFrame(rows, schema="id long, a double, b double")
    out = hs_mass_scores(df, ["a", "b"], ["id"], n_trees=4, depth=4)
    got = out.collect()
    # null row excluded; constant column contributes bit 0 everywhere
    assert len(got) == 200
    assert all(r["total_mass"] > 0 for r in got)
    with pytest.raises(ValueError, match="not in frame"):
        hs_mass_scores(df, ["zz"], ["id"])


def test_hs_nan_row_excluded_in_both_engines(spark, tmp_path):
    """A NaN in a scored column drops that row like a null does: it no
    longer becomes the column's max and moves every other row's mass,
    and the DuckDB oracle filters it identically."""
    rows = [(i, float(i % 11), float((i * 7) % 13)) for i in range(300)]
    clean = spark.createDataFrame(rows, schema="id long, a double, b double")
    dirty = spark.createDataFrame(
        rows + [(999, float("nan"), 1.0)], schema="id long, a double, b double")

    def masses(df):
        return {r["id"]: r["total_mass"]
                for r in hs_mass_scores(df, ["a", "b"], ["id"],
                                        n_trees=4, depth=4).collect()}

    got = masses(dirty)
    assert got == masses(clean)
    p = str(tmp_path / "nan.parquet")
    dirty.write.parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    want = dict(con.execute(
        hs_oracle_sql("t", ["a", "b"], ["id"], n_trees=4, depth=4)).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# hypothesis: cross-engine mass exactness under adversarial floats
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_val = st.one_of(
    st.none(),
    st.integers(min_value=-10**6, max_value=10**6).map(float),
    st.floats(allow_nan=False, allow_infinity=False,
              min_value=-1e9, max_value=1e9),
)


@given(st.lists(st.tuples(_val, _val), min_size=2, max_size=40))
@settings(max_examples=8, deadline=None)
def test_hs_mass_fuzz_exact_vs_duckdb(spark, tmp_path_factory, rows):
    """For ANY finite-float frame — negatives, huge magnitudes, values
    landing on box-boundary bits, constant columns, nulls — Spark and
    DuckDB must produce the IDENTICAL integer mass per row. This is the
    bit-exactness claim of the shared-verbatim fragments (normalize,
    clamp, floor, pack) under adversarial inputs, not just the
    engineered-cluster case."""
    import duckdb

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        schema="id long, a double, b double")
    p = str(tmp_path_factory.mktemp("hsfuzz") / "t.parquet")
    df.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    got = {r["id"]: r["total_mass"]
           for r in hs_mass_scores(back, ["a", "b"], ["id"],
                                   n_trees=4, depth=5, seed=7).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    want = dict(con.execute(
        hs_oracle_sql("t", ["a", "b"], ["id"],
                      n_trees=4, depth=5, seed=7)).fetchall())
    assert got == want
