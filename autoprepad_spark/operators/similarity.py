"""Approximate-nearest-neighbor search over an embedding column.

No reference counterpart (AutoPrepAD's KMedoids transformer is dead code,
/root/reference/pipelines/preprocessing/estimator/KMedian.py:39-62); this
is the standard ANN family for training-data pipelines:

* brute-force cosine top-k — the exactness baseline. Queries are
  broadcast (small side), the corpus streams once; per-query top-k via
  window rank, which AQE executes as a partial top-k per partition.
* LSH (random hyperplanes) — deterministic seeded planes, sign-bit
  signature, bucket join; only bucket-mates are scored. The scale path:
  shuffle keys are signature hashes (uniform), corpus scored fraction
  ~ bucket collision rate instead of 100%.
* IVF — coarse quantizer from a deterministic corpus sample; vectors are
  assigned to their nearest centroid cell, queries probe `nprobe` cells.

Vector math is JVM-side (functions.arrays — zip_with/aggregate in
whole-stage codegen); centroid assignment uses a vectorized pandas UDF
(numpy matmul over Arrow batches) because an N_centroid-way argmax is
matrix work, not expression work.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F, types as T

from autoprepad_spark.functions.arrays import cosine, dot


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus.

    (query_id, neighbor_id, cos_sim, rank); self-matches excluded.
    Broadcast the queries (small), stream the corpus once.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = c.join(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine("_qv", "_cv").alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _random_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


# ---------------------------------------------------------------------------
# md5int oracle family (cross-engine-exact planes/centroids)
# ---------------------------------------------------------------------------

#: fixed-point scale for the oracle family's vector quantization
ORACLE_QUANT_SCALE = 1000.0


def md5_int_matrix(n: int, dim: int, seed: int, salt: str) -> np.ndarray:
    """An (n, dim) integer matrix derived purely from md5 — the ANN
    analog of dsir.fit_oracle_sql's "oracle hash family": entry (i, j)
    is ``(int(md5(f"{seed}:{salt}:{i}:{j}")[:8], 16) % 255) - 127``,
    a symmetric integer in [-127, 127]. Because the derivation is pure
    md5-of-a-string, DuckDB recomputes the identical matrix in SQL
    (nibble arithmetic over md5()), so LSH signatures / IVF cell
    assignments built from it are engine-portable, not engine-internal.
    Returned as float64 holding exact integer values (so numpy matmuls
    against quantized vectors stay exact)."""
    out = np.empty((n, dim), dtype=np.float64)
    for i in range(n):
        for j in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{salt}:{i}:{j}".encode()).hexdigest()[:8],
                16,
            )
            out[i, j] = float((h % 255) - 127)
    return out


def quantize_vec(
    vec_col: Column | str, scale: float = ORACLE_QUANT_SCALE
) -> Column:
    """Fixed-point quantization ``floor(x*scale + 0.5)`` (round-half-up,
    spelled as floor so Spark, DuckDB, and numpy cannot disagree on
    half-case tie-breaking). With integer planes/centroids every dot
    product over the quantized vector is a sum of exact small integers
    in float64 — bit-identical under ANY summation order (codegen fold,
    numpy pairwise matmul, DuckDB's loop), which is what makes sign
    bits and argmax cells, the parts 4-decimal rounding cannot protect,
    deterministic across engines."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c,
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast(
            "double"
        ),
    )


def lsh_signature(vec_col: Column | str, planes: list[list[float]]) -> F.Column:
    """Sign-bit signature against fixed hyperplanes — a long per vector.

    Expression variant (zip_with/aggregate, whole-stage codegen). Each
    plane is a separate array reduction, so cost grows as
    n_planes x dim per row — fine for small plane counts, but the
    matmul UDF variant below wins at scale."""
    vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vc,
                F.array(*[F.lit(float(x)) for x in p]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_signature_udf(planes: np.ndarray):
    """Matmul variant: ALL plane dot-products in one numpy matmul per
    Arrow batch (n_planes x dim fused into BLAS), returning the packed
    sign-bit signature. The scale path — per-row cost is one GEMV row
    instead of n_planes separate array traversals. Bit values can differ
    from the expression variant only for dot products within float
    rounding of zero (summation order), which is why callers pick ONE
    variant per pipeline (`sig_method`)."""
    pm = np.asarray(planes, dtype=np.float64)

    @F.pandas_udf(T.LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (m @ pm.T) > 0
        out = np.zeros(len(m), dtype=np.int64)
        for i in range(pm.shape[0]):
            out |= bits[:, i].astype(np.int64) << i
        return pd.Series(out)

    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
    sig_method: str = "udf",
    family: str = "gaussian",
) -> DataFrame:
    """ANN top-k: score only bucket-mates across n_tables hash tables.

    Pass ``dim`` (the embedding width) to skip the one-row peek job.
    sig_method: "udf" (matmul per Arrow batch — the scale path) or
    "expr" (pure codegen expressions, no python workers).
    family: "gaussian" (default — seeded numpy standard-normal planes)
    or "md5int" (the oracle family: md5-derived integer planes applied
    to fixed-point-quantized vectors, so signatures — and therefore the
    candidate set and final top-k — are exactly recomputable by DuckDB;
    see md5_int_matrix/quantize_vec). Final cosine scoring always uses
    the ORIGINAL float vectors; only bucketing is quantized."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    sig_in = (
        quantize_vec(vec_col) if family == "md5int" else F.col(vec_col)
    )
    cands = None
    for t in range(n_tables):
        if family == "md5int":
            planes = md5_int_matrix(n_planes, dim, seed + t, "plane")
        else:
            planes = _random_planes(dim, n_planes, seed + t)
        if sig_method == "udf":
            u = lsh_signature_udf(np.asarray(planes))
            sig = u(sig_in)
        else:
            sig = lsh_signature(sig_in, np.asarray(planes).tolist())
        cb = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), sig.alias("_b"))
        qb = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), sig.alias("_b"))
        pair = cb.join(F.broadcast(qb), "_b").drop("_b")
        cands = pair if cands is None else cands.unionByName(pair)
    cands = cands.filter(F.col("neighbor_id") != F.col("query_id")).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    scored = cands.select(
        "query_id", "neighbor_id", cosine("_qv", "_cv").alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _assign_udf(centroids: np.ndarray):
    """Vectorized nearest-centroid assignment: one numpy matmul per batch."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cn.T, axis=1).astype(np.int32))

    return assign


def _assign_udf_exact(centroids: np.ndarray):
    """Oracle-family assignment over QUANTIZED vectors: score(v, c) =
    dot_int(v, c) / ||c|| — the numerator is exact integer arithmetic in
    float64 (order-free), the denominator sqrt-of-exact-int, so every
    score and therefore the argmax is bit-identical in numpy and DuckDB.
    Skipping the vector's own normalization is sound: dividing all of a
    row's scores by ||v|| cannot change its argmax, and it is exactly
    the normalization step whose rounding could differ between engines.
    Ties (exactly equal scores) take the LOWEST cell index — np.argmax's
    first-occurrence rule, mirrored by the oracle's ORDER BY s DESC, c."""
    ct = np.asarray(centroids, dtype=np.float64)
    nrm = np.sqrt((ct * ct).sum(axis=1))

    @F.pandas_udf(T.IntegerType())
    def assign(qvecs: pd.Series) -> pd.Series:
        m = np.stack(qvecs.to_numpy()).astype(np.float64)
        sims = (m @ ct.T) / nrm[None, :]
        return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def ivf_build(
    corpus: DataFrame,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    method: str = "sample",
    max_iter: int = 10,
    dim: int | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Assign each vector to an IVF cell; returns (assigned, centroids).

    method="sample": centroids = deterministic seeded corpus sample
    (TakeOrderedAndProject over a hash ordering — per-partition top-k,
    no global sort). k-means init without the iterations — adequate as a
    coarse quantizer and fully parallelism-independent.

    method="kmeans": distributed Lloyd iterations via pyspark.ml.KMeans
    (seeded k-means|| init) for tighter cells / better probe recall.
    Note the trained centers can depend on input partitioning (parallel
    init sampling), so use "sample" where bit-identical builds across
    cluster sizes matter more than cell quality.

    method="md5int": the ORACLE family — centroids are the md5-derived
    integer matrix (md5_int_matrix(n_cells, dim, seed, "cent")) and
    assignment scores dot_int(quantized v, c)/||c|| (exact arithmetic,
    see _assign_udf_exact), so DuckDB recomputes the identical cell per
    vector. Requires ``dim``. Random integer centroids partition the
    sphere by nearest-direction just like sampled centroids do — cell
    quality is adequate for probe-recall work, and the build is a pure
    function of (seed, dim, n_cells): no scan, no sample job at all.
    """
    if method == "md5int":
        if dim is None:
            dim = _infer_dim(corpus, vec_col)
        centroids = md5_int_matrix(n_cells, dim, seed, "cent")
        assign = _assign_udf_exact(centroids)
        assigned = corpus.withColumn("cell", assign(quantize_vec(vec_col)))
        return assigned, centroids
    if method == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = corpus.select(
            id_col, array_to_vector(F.col(vec_col).cast("array<double>")).alias("_f")
        )
        km = KMeans(k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_f")
        model = km.fit(feat)
        centroids = np.array(
            [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
        )
    else:
        sample = (
            corpus.select(id_col, vec_col)
            .orderBy(F.pmod(F.xxhash64(F.col(id_col).cast("string")) + seed, F.lit(997)), F.col(id_col))
            .limit(n_cells)
            .collect()
        )
        centroids = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
    assign = _assign_udf(centroids)
    assigned = corpus.withColumn("cell", assign(F.col(vec_col)))
    return assigned, centroids


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """Vectorized nprobe-nearest-cells per query: one numpy matmul per
    Arrow batch — the same kernel shape as assignment, so query-table-
    sized workloads distribute instead of looping on the driver."""
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cn.T
        # stable argsort: deterministic cell order under similarity ties
        cells = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cells.astype(np.int32)))

    return probe


def _probe_udf_exact(centroids: np.ndarray, nprobe: int):
    """Oracle-family probe over QUANTIZED query vectors: same exact
    dot_int/||c|| scores as _assign_udf_exact, nprobe cells per query in
    (score DESC, cell ASC) order — DuckDB's row_number() over the same
    ordering reproduces the identical probe set."""
    ct = np.asarray(centroids, dtype=np.float64)
    nrm = np.sqrt((ct * ct).sum(axis=1))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(qvecs: pd.Series) -> pd.Series:
        m = np.stack(qvecs.to_numpy()).astype(np.float64)
        sims = (m @ ct.T) / nrm[None, :]
        cells = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cells.astype(np.int32)))

    return probe


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "gaussian",
) -> DataFrame:
    """Probe the nprobe nearest cells per query, exact-score inside them.

    Fully distributed: cell probing is a pandas-UDF matmul over the query
    DataFrame (never collected), exploded to (query, cell) rows and
    joined against the cell-assigned corpus — broadcast when the probe
    table is small, AQE-planned shuffle join for query-table-sized
    workloads.

    family="md5int" pairs with ivf_build(method="md5int"): probing uses
    the exact integer scores (so the probe set — and the resulting
    top-k — is DuckDB-recomputable); final cosine still scores the
    original float vectors.
    """
    if family == "md5int":
        probe = _probe_udf_exact(centroids, nprobe)
        probe_in = quantize_vec(vec_col)
    else:
        probe = _probe_udf(centroids, nprobe)
        probe_in = F.col(vec_col)
    qdf = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            probe(probe_in).alias("_cells"),
        )
        .withColumn("cell", F.explode("_cells"))
        .drop("_cells")
    )
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell"
    ).join(F.broadcast(qdf), "cell").filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select("query_id", "neighbor_id", cosine("_qv", "_cv").alias("cos_sim")).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def jl_project_udf(mat: np.ndarray, *, quantize: bool = True,
                   scale: float = ORACLE_QUANT_SCALE):
    """Arrow-batched Johnson–Lindenstrauss projection: one numpy matmul
    per batch against the fixed (out_dim, dim) matrix. With
    ``quantize=True`` the input is fixed-point quantized first
    (floor(x*scale+0.5)), so against an INTEGER matrix (md5_int_matrix)
    every output coordinate is a sum of exact small integers in float64
    — bit-identical under any summation order, hence recomputable by
    DuckDB's sequential list_dot_product (the same exact-arithmetic
    contract as the md5int LSH/IVF families)."""
    pm = np.asarray(mat, dtype=np.float64)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        if quantize:
            m = np.floor(m * scale + 0.5)
        out = m @ pm.T
        return pd.Series(list(out))

    return proj


def jl_project(
    df: DataFrame,
    *,
    out_dim: int,
    dim: int,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "jl_vec",
    family: str = "md5int",
) -> DataFrame:
    """Compress an embedding column dim→out_dim by random projection.

    The compress-then-cluster scale path: at 100 TB the dominant cost of
    SemDeDup/IVF-style pipelines is shuffling wide vectors; projecting
    1024-d float arrays to 16–64-d first cuts exchange bytes ~dim/out_dim
    with JL-bounded distortion of pairwise angles. family="md5int" uses
    the oracle hash family (integer matrix from md5 of (seed,'jl',i,j),
    quantized input — engine-portable exact coordinates); "gaussian"
    uses seeded numpy normals over the raw floats (the production
    default when cross-engine exactness is not needed)."""
    if family == "md5int":
        mat = md5_int_matrix(out_dim, dim, seed, "jl")
        u = jl_project_udf(mat, quantize=True)
    else:
        mat = np.asarray(_random_planes(dim, out_dim, seed), dtype=np.float64)
        u = jl_project_udf(mat, quantize=False)
    return df.withColumn(out_col, u(F.col(vec_col)))


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Peek one row for the embedding width, with a clean error for an
    empty input (first() returns None, which would otherwise surface as
    a bare TypeError deep in the caller)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding width: column {vec_col!r} has no "
            "non-null rows; pass dim= explicitly"
        )
    return len(row[0])


def jl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    out_dim: int = 16,
    dim: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    family: str = "md5int",
) -> DataFrame:
    """Top-k by cosine in the JL-COMPRESSED space (query_id, neighbor_id,
    cos_sim, rank) — the third ANN family: no buckets or cells, just a
    brute-force scan made cheap by projecting dim→out_dim first. Recall
    comes from JL distance preservation instead of bucket collision, so
    it has no recall cliff for out-of-cluster queries; the trade is a
    full (compressed) scan per query batch.

    Ranking uses round(cos,4) with neighbor_id tie-break: projected
    coordinates are exact integers (md5int family), but a 16-term dot
    product of ~1e7-magnitude values exceeds 2^53, so the last ulp of
    the cosine is summation-order-dependent; ranking on the rounded
    value keeps the top-k cut identical across Spark, numpy, and DuckDB
    (same tolerance contract as the green float-cosine oracles).

    Zero-norm projected vectors (every coordinate quantized to 0 —
    manufactured by the md5int path from vectors of magnitude below
    half the quantization step) are EXCLUDED on both sides: their
    cosine is undefined, and the engines disagree on the undefined
    value's sort position (Spark null sorts last under DESC, DuckDB
    NaN sorts first)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    c = jl_project(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col)),
        out_dim=out_dim, dim=dim, seed=seed, vec_col=vec_col,
        out_col="_cp", family=family,
    ).drop(vec_col).filter(dot("_cp", "_cp") > 0)
    q = jl_project(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        out_dim=out_dim, dim=dim, seed=seed, vec_col=vec_col,
        out_col="_qp", family=family,
    ).drop(vec_col).filter(dot("_qp", "_qp") > 0)
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(cosine("_qp", "_cp"), 4).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _md5_u32_sql(expr: str) -> str:
    """First 8 hex nibbles of md5(expr) as a BIGINT — the same nibble
    arithmetic as dsir.fit_oracle_sql (DuckDB has no conv())."""
    return " + ".join(
        f"(strpos('0123456789abcdef', md5({expr})[{j + 1}]) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )


def ann_oracle_sql(
    *,
    query_pred: str = "vec_id < 10",
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
    lsh_seed: int = 42,
    n_cells: int = 8,
    ivf_seed: int = 42,
    nprobe: int = 3,
    dim: int = 64,
    table: str = "embeddings",
    jl_dim: int | None = None,
    jl_seed: int = 42,
) -> str:
    """DuckDB SQL recomputing the ENTIRE md5int-family ANN query — LSH
    signatures, bucket candidates, IVF centroids, cell assignment, probe
    sets, cosine scores, and the top-k cut — from the raw parquet rows.

    The cross-engine-exactness argument (the ANN analog of
    dsir.fit_oracle_sql): planes/centroids are pure md5 functions of
    (seed, salt, i, j) recomputed here by nibble arithmetic; vectors are
    fixed-point quantized (floor(x*1000+0.5)) so every signature dot
    product and assignment score is exact-integer float64 arithmetic —
    order-free, hence identical under Spark codegen, numpy matmul, and
    DuckDB's loop. Only the FINAL cosine (original float vectors) is
    real-float work, and it is rounded to 4 decimals on both sides —
    the same tolerance the green brute-force embedding_topk oracle
    already relies on.

    With ``jl_dim`` set, a third branch recomputes jl_topk: the
    (jl_dim, dim) projection matrix from md5 of (jl_seed,'jl',i,j),
    every projected coordinate as an exact-integer list_dot_product
    over the quantized vectors, and the top-k by ROUNDED projected
    cosine with neighbor_id tie-break (mirroring jl_topk's rounded
    ranking — see its docstring for why the rounding is load-bearing)."""
    plane_key = (
        f"concat(CAST({lsh_seed} + t.t AS VARCHAR), ':plane:', "
        "CAST(i.i AS VARCHAR), ':', CAST(j.j AS VARCHAR))"
    )
    cent_key = (
        f"concat(CAST({ivf_seed} AS VARCHAR), ':cent:', "
        "CAST(c.c AS VARCHAR), ':', CAST(j.j AS VARCHAR))"
    )
    jl_key = (
        f"concat(CAST({jl_seed} AS VARCHAR), ':jl:', "
        "CAST(i.i AS VARCHAR), ':', CAST(j.j AS VARCHAR))"
    )
    jl_ctes = ""
    jl_union = ""
    if jl_dim is not None:
        jl_ctes = f""",
jpl AS (
  SELECT i.i,
         list(((({_md5_u32_sql(jl_key)}) % 255) - 127)::DOUBLE ORDER BY j.j) AS p
  FROM range({jl_dim}) i(i), range({dim}) j(j)
  GROUP BY i.i
),
jp AS (
  SELECT e.vec_id, list(list_dot_product(e.qv, l.p) ORDER BY l.i) AS pv
  FROM e, jpl l
  GROUP BY e.vec_id
),
jr AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.pv, c.pv), 4) AS sim
        FROM jp q JOIN jp c ON c.vec_id <> q.vec_id
        WHERE q.{query_pred}
          AND list_dot_product(q.pv, q.pv) > 0
          AND list_dot_product(c.pv, c.pv) > 0)
)"""
        jl_union = f"""
      UNION ALL
      SELECT 'jl' AS method, * FROM jr WHERE rnk <= {k}"""
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[], x -> floor(x * {ORACLE_QUANT_SCALE} + 0.5)) AS qv
  FROM {table}
),
lpl AS (
  SELECT t.t, i.i,
         list(((({_md5_u32_sql(plane_key)}) % 255) - 127)::DOUBLE ORDER BY j.j) AS p
  FROM range({n_tables}) t(t), range({n_planes}) i(i), range({dim}) j(j)
  GROUP BY t.t, i.i
),
sg AS (
  SELECT e.vec_id, l.t,
         sum(CASE WHEN list_dot_product(e.qv, l.p) > 0
                  THEN (1::BIGINT << l.i) ELSE 0 END)::BIGINT AS sig
  FROM e, lpl l
  GROUP BY e.vec_id, l.t
),
lc AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sg q JOIN sg c ON c.t = q.t AND c.sig = q.sig
  WHERE q.{query_pred} AND c.vec_id <> q.vec_id
),
lr AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM (SELECT lc.query_id, lc.neighbor_id,
               list_cosine_similarity(eq.v, ec.v) AS sim
        FROM lc JOIN e eq ON eq.vec_id = lc.query_id
                JOIN e ec ON ec.vec_id = lc.neighbor_id)
),
cn AS (
  SELECT c, p, sqrt(list_dot_product(p, p)) AS nrm
  FROM (SELECT c.c AS c,
               list(((({_md5_u32_sql(cent_key)}) % 255) - 127)::DOUBLE ORDER BY j.j) AS p
        FROM range({n_cells}) c(c), range({dim}) j(j)
        GROUP BY c.c)
),
ascore AS (
  SELECT e.vec_id, cn.c, list_dot_product(e.qv, cn.p) / cn.nrm AS s
  FROM e, cn
),
asg AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS r
    FROM ascore) WHERE r = 1
),
prb AS (
  SELECT vec_id, c FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, c) AS r
    FROM ascore WHERE {query_pred}) WHERE r <= {nprobe}
),
ic AS (
  SELECT DISTINCT p.vec_id AS query_id, a.vec_id AS neighbor_id
  FROM prb p JOIN asg a ON a.c = p.c
  WHERE a.vec_id <> p.vec_id
),
ir AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rnk
  FROM (SELECT ic.query_id, ic.neighbor_id,
               list_cosine_similarity(eq.v, ec.v) AS sim
        FROM ic JOIN e eq ON eq.vec_id = ic.query_id
                JOIN e ec ON ec.vec_id = ic.neighbor_id)
){jl_ctes}
SELECT method, query_id, neighbor_id, round(sim, 4) AS cos_sim
FROM (SELECT 'lsh' AS method, * FROM lr WHERE rnk <= {k}
      UNION ALL
      SELECT 'ivf' AS method, * FROM ir WHERE rnk <= {k}{jl_union})
"""


def semantic_duplicates(
    corpus: DataFrame,
    *,
    eps: float = 0.95,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cell_method: str = "sample",
    max_cell_size: int = 100_000,
    dim: int | None = None,
    project_dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    embedding — cluster the corpus with a coarse quantizer, then inside
    each cluster greedily drop every vector within cosine ``eps`` of an
    already-kept one, scanning in descending similarity-to-centroid
    order (ties broken by id — fully deterministic).

    Returns (id, cell, centroid_sim, keep): ``keep=false`` rows are the
    semantic duplicates a corpus pipeline filters out. No reference
    counterpart (AutoPrepAD has no embedding ops); this is the published
    algorithm the LLM-data community uses between exact/MinHash dedup
    and quality filtering.

    Scale shape: one pandas-UDF centroid assignment (numpy matmul per
    Arrow batch), ONE shuffle keyed by cell, then per-cell grouped-map
    work. The per-cell greedy is O(m * kept) vectorized numpy — in the
    paper's regime k is chosen so cells hold ~10^4-10^5 vectors, which
    is exactly what ``n_cells`` controls; cells larger than
    ``max_cell_size`` raise (pick a larger n_cells) instead of silently
    OOMing an executor. Cluster count scales with corpus size, cells
    process in parallel, nothing corpus-sized is collected or broadcast.

    project_dim: when set, the whole computation (clustering AND the
    per-cell eps test) runs over a Johnson–Lindenstrauss compression of
    the embeddings to that many dimensions (jl_project, gaussian
    family) — the 100 TB shape: the one cell-keyed shuffle then moves
    project_dim doubles per row instead of the full embedding width
    (e.g. 1024→32 ≈ 32× fewer exchange bytes), at the cost of
    JL-bounded distortion of the cosines eps is compared against.
    """
    if not 0.0 < eps <= 1.0:
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    work = corpus.select(id_col, vec_col)
    if project_dim is not None:
        if dim is None:
            dim = _infer_dim(corpus, vec_col)
        work = jl_project(
            work, out_dim=project_dim, dim=dim, seed=seed,
            vec_col=vec_col, out_col=vec_col, family="gaussian",
        )
    assigned, centroids = ivf_build(
        work,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        method=cell_method,
    )
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    out_schema = T.StructType(
        [
            next(f for f in corpus.schema.fields if f.name == id_col),
            T.StructField("cell", T.IntegerType()),
            T.StructField("centroid_sim", T.DoubleType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > max_cell_size:
            raise ValueError(
                f"semantic_duplicates cell {int(pdf['cell'].iloc[0])} holds "
                f"{m} vectors (> max_cell_size={max_cell_size}); raise "
                "n_cells so cells stay executor-sized"
            )
        vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        vecs = vecs / np.maximum(
            np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
        )
        csim = vecs @ cn[int(pdf["cell"].iloc[0])]
        order = np.lexsort((pdf[id_col].to_numpy(), -csim))
        kept_rows = np.zeros((0, vecs.shape[1]))
        keep = np.zeros(m, dtype=bool)
        for i in order:
            if kept_rows.shape[0] == 0 or float(
                np.max(kept_rows @ vecs[i])
            ) < eps:
                keep[i] = True
                kept_rows = np.vstack([kept_rows, vecs[i]])
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "centroid_sim": csim,
                "keep": keep,
            }
        )

    return assigned.groupBy("cell").applyInPandas(_dedup_cell, out_schema)
