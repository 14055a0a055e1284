"""Row-level constraint marking — the engine's "transform" stage.

The reference marks outliers per row with whole-table pandas transforms
(TukeyTransformer.py:54 `(X < lower) | (X > upper)`,
MedianAbsolutDeviation.py:53-61 modified Z with 0.6745 / 3.5,
ZTransformerMean.py:47-58 z-score with threshold 3, ddof=1) and counts
flags per row (TukeyTransformerTotal.py:25-36 row-wise sum).

One production marker and one oracle produce IDENTICAL flags:

* ``mark_slim`` — the production path (the suite, the runner and the
  streaming pipeline). The JVM reduces the token arrays to scalars
  (size/min/max) in one projection, then one vectorized Arrow UDF
  (``arrow_udf``, pyarrow in / pyarrow out) evaluates every row-level
  predicate with numpy kernels over Arrow record batches: no per-row
  Python (north-rule requirement), and the heavy ``tokens`` column
  never crosses into Python.
* ``mark`` — the same predicates as Catalyst Column expressions (whole-
  stage codegen; the statistical ones are ``functions/stats``'
  ``tukey_flag``, ``mad_flag`` and ``zscore_flag``) over a pass-through
  projection that keeps the input columns: the parity oracle the Arrow
  path is tested against.

The thresholds are ``functions/stats``' constants in both.

Fit statistics arrive as plain floats (broadcast as literals into the
plan) — the marking pass is a pure map, no shuffle, and preserves the
input columns untouched (token-array equality invariant).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Column, functions as F, types as T

from autoprepad_spark.datagen import VOCAB_SIZE
from autoprepad_spark.functions import stats as FS
from autoprepad_spark.operators.profile import ProfileStats

#: check-name -> flag column (order defines severity tie-break ordering)
ROW_CHECKS = [
    "null_doc_id",
    "len_mismatch",
    "token_oob",
    "empty_tokens",
    "ntok_tukey",
    "ntok_mad",
    "ntok_z",
]
FLAG_COLS = [f"f_{c}" for c in ROW_CHECKS]
#: referential check, inlined into the marking pass when the allowed-set
#: is small enough to ship as a literal (the common dimension-table case)
REF_CHECK = "ref_source"
REF_FLAG = f"f_{REF_CHECK}"

_CHECK_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


@dataclass(frozen=True, eq=False)
class CustomCheck:
    """User-defined row constraint — the engine's extensibility point
    (the reference exposes this axis as pluggable sklearn transformers,
    pipelines/control.py:153-154; here a constraint is a declarative
    Column predicate, so Catalyst fuses it into the SAME marking scan
    as the built-in checks — no extra pass over the table, even for
    predicates over the heavy ``tokens`` payload).

    name       check_name in violations/verdicts; must be a bare
               identifier and must not collide with a built-in check.
    predicate  boolean Column or SQL expression string; True marks the
               row as a VIOLATION. NULL counts as pass (wrap the
               expression in coalesce yourself to invert that).
    detail     optional Column / SQL string for the violation row's
               ``detail`` payload (cast to string); defaults to n_tok.
    hard       True: any violation fails the partition (HARD_CHECKS
               rule). False: statistical rule — the partition passes
               while the violation RATE stays <= the suite's
               stat_max_rate.
    stat_max_rate  optional per-check ceiling for the statistical rule,
               overriding the suite-global value for THIS check only
               (e.g. a suggested null-rate ceiling derived from the
               observed rate). Ignored when hard=True.

    SQL-string and native Column predicates evaluate JVM-side
    (whole-stage codegen) in both ``mark_slim`` and the ``mark`` oracle,
    so the two produce identical custom flags. A Column
    backed by a pandas UDF — such as the bounds-as-data range check
    suggest.grouped_to_custom_checks emits above max_arms_per_check —
    evaluates in Arrow Python workers instead, with the same flags.
    Expressions may reference any input column, including extra columns
    beyond the declared schema."""

    name: str
    predicate: Column | str
    detail: Column | str | None = None
    hard: bool = True
    stat_max_rate: float | None = None

    def flag_col(self) -> Column:
        p = (
            F.expr(self.predicate)
            if isinstance(self.predicate, str)
            else self.predicate
        )
        return F.coalesce(p.cast("int"), F.lit(0))

    def detail_col(self) -> Column | None:
        if self.detail is None:
            return None
        d = F.expr(self.detail) if isinstance(self.detail, str) else self.detail
        return d.cast("string")


def validate_custom_checks(custom: list[CustomCheck] | None) -> list[CustomCheck]:
    """Reject name collisions (with built-ins or each other) and names
    that cannot be column suffixes. Returns the list for chaining."""
    if not custom:
        return []
    reserved = set(ROW_CHECKS) | {REF_CHECK, "unique_doc_id"}
    seen: set[str] = set()
    for c in custom:
        if not _CHECK_NAME_RE.match(c.name):
            raise ValueError(
                f"custom check name {c.name!r} must be a bare identifier"
            )
        if c.name in reserved:
            raise ValueError(
                f"custom check name {c.name!r} collides with a built-in check"
            )
        if c.name in seen:
            raise ValueError(f"duplicate custom check name {c.name!r}")
        seen.add(c.name)
    return list(custom)


def _flags_numpy(
    doc_null: np.ndarray,
    lengths: np.ndarray,  # -1 where tokens column itself is null
    tok_min: np.ndarray,
    tok_max: np.ndarray,
    n_tok: np.ndarray,  # NaN where null
    stats: ProfileStats,
    vocab_size: int,
) -> dict[str, np.ndarray]:
    """Vectorized predicate kernel (numpy) behind the Arrow flag UDF."""
    rs = stats.robust
    out: dict[str, np.ndarray] = {}
    out["f_null_doc_id"] = doc_null.astype(np.int32)
    with np.errstate(invalid="ignore"):
        out["f_len_mismatch"] = (lengths != np.nan_to_num(n_tok, nan=-1.0)).astype(np.int32)
        has = lengths > 0
        out["f_token_oob"] = (has & ((tok_min < 0) | (tok_max >= vocab_size))).astype(np.int32)
        out["f_empty_tokens"] = (lengths == 0).astype(np.int32)
        out["f_ntok_tukey"] = ((n_tok < rs.tukey_lo) | (n_tok > rs.tukey_hi)).astype(np.int32)
        if rs.mad > 0:  # zero-MAD guard, MedianAbsolutDeviation.py:44-45
            zmod = FS.MAD_SCALE * (n_tok - rs.median) / rs.mad
            out["f_ntok_mad"] = (np.abs(zmod) > FS.MAD_THRESHOLD).astype(np.int32)
        else:
            out["f_ntok_mad"] = np.zeros(len(n_tok), dtype=np.int32)
        if rs.std > 0:  # zero-std guard, ZTransformerMean.py:50-51
            z = (n_tok - rs.mean) / rs.std
            out["f_ntok_z"] = (np.abs(z) > FS.Z_THRESHOLD).astype(np.int32)
        else:
            out["f_ntok_z"] = np.zeros(len(n_tok), dtype=np.int32)
    return out


def _pack_flags(out: dict[str, np.ndarray]) -> np.ndarray:
    """Pack the per-check 0/1 arrays into one int32 bitmask (bit i =
    ROW_CHECKS[i]) — a single narrow Arrow column back to the JVM instead
    of a 7-field struct (struct-returning pandas UDFs serialize each
    field and build per-field Series; the bitmask measures ~25% faster
    end-to-end on the marking stage at high parallelism)."""
    packed = np.zeros(len(next(iter(out.values()))), dtype=np.int32)
    for i, f in enumerate(FLAG_COLS):
        packed |= out[f].astype(np.int32) << i
    return packed


def _arrow_array_flag_udf(stats: ProfileStats, vocab_size: int):
    """The Arrow flag UDF (Spark 4 ``arrow_udf``): batches arrive as
    ``pa.Array`` — no pandas Series/index construction on either side of
    the exchange, the remaining per-batch cost is pure numpy. Takes the
    JVM-side token-array reductions, never the arrays, and returns the
    packed flag bitmask (one int32 per row) that the JVM unpacks with
    shiftright."""

    @F.arrow_udf(T.IntegerType())
    def flags(
        doc_null: pa.Array, length: pa.Array, tmin: pa.Array,
        tmax: pa.Array, n_tok: pa.Array,
    ) -> pa.Array:
        dn = doc_null.to_numpy(zero_copy_only=False).astype(bool)
        lengths = pc.fill_null(length, -1).to_numpy(zero_copy_only=False)
        tok_min = pc.fill_null(tmin, 0.0).to_numpy(zero_copy_only=False)
        tok_max = pc.fill_null(tmax, 0.0).to_numpy(zero_copy_only=False)
        nt = pc.fill_null(n_tok, float("nan")).to_numpy(zero_copy_only=False)
        out = _flags_numpy(dn, lengths, tok_min, tok_max, nt, stats, vocab_size)
        return pa.array(_pack_flags(out), type=pa.int32())

    return flags


def _unpack_flags() -> list[Column]:
    """The packed ``_flags`` bitmask as one 0/1 column per ROW_CHECKS
    entry (bit i = ROW_CHECKS[i], see ``_pack_flags``)."""
    return [
        F.shiftright("_flags", i).bitwiseAND(F.lit(1)).alias(f)
        for i, f in enumerate(FLAG_COLS)
    ]


def _ref_flag(allowed_sources: list[str]) -> Column:
    return (
        F.col("source").isNotNull() & ~F.col("source").isin(*allowed_sources)
    ).cast("int").alias(REF_FLAG)


@dataclass(frozen=True, eq=False)
class SlimMarker:
    """``mark_slim`` as three prebuilt projections: ``reduce`` (the JVM
    token-array reductions plus custom checks), ``flag`` (the Arrow flag
    UDF and the referential flag) and ``unpack`` (the flag bits and
    ``flag_total``). Applying it builds no expression, so a streaming
    query builds one per query and applies it to every batch.
    ``columns`` names the marked frame's columns."""

    reduce: list[Column]
    flag: list[Column]
    unpack: list[Column]
    columns: list[str]

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.select(*self.reduce).select(*self.flag).select(*self.unpack)


def slim_marker(
    stats: ProfileStats,
    *,
    vocab_size: int = VOCAB_SIZE,
    allowed_sources: list[str] | None = None,
    custom: list[CustomCheck] | None = None,
) -> SlimMarker:
    """Build ``mark_slim``'s projections once; see ``mark_slim``."""
    custom = validate_custom_checks(custom)
    custom_cols = []
    custom_keep = [f"f_{c.name}" for c in custom]
    for c in custom:
        custom_cols.append(c.flag_col().alias(f"f_{c.name}"))
        d = c.detail_col()
        if d is not None:
            custom_cols.append(d.alias(f"_d_{c.name}"))
            custom_keep.append(f"_d_{c.name}")
    reduce = [
        F.col("part"),
        F.col("doc_id"),
        F.col("n_tok"),
        F.col("source"),
        F.isnull("doc_id").alias("_dn"),
        F.coalesce(F.size("tokens"), F.lit(-1)).cast("long").alias("_len"),
        F.array_min("tokens").cast("double").alias("_tmin"),
        F.array_max("tokens").cast("double").alias("_tmax"),
        F.col("n_tok").cast("double").alias("_ntd"),
        *custom_cols,
    ]
    keep = ["part", "doc_id", "n_tok", "source", "_len", "_tmin", "_tmax",
            *custom_keep]
    ref = []
    flag = [F.col(c) for c in keep]
    if allowed_sources is not None:
        ref.append(REF_FLAG)
        flag.append(_ref_flag(allowed_sources))
    udf = _arrow_array_flag_udf(stats, vocab_size)
    flag.append(udf("_dn", "_len", "_tmin", "_tmax", "_ntd").alias("_flags"))
    # the built-in flags are the 0/1 bits of _flags, so their sum is its
    # popcount; the custom and referential flags are added to it
    total = F.bit_count("_flags")
    for f in [f"f_{c.name}" for c in custom] + ref:
        total = total + F.col(f)
    unpack = [
        *[F.col(c) for c in keep],
        *_unpack_flags(),
        *[F.col(c) for c in ref],
        total.cast("int").alias("flag_total"),
    ]
    return SlimMarker(
        reduce, flag, unpack, keep + FLAG_COLS + ref + ["flag_total"]
    )


def mark_slim(
    df: DataFrame,
    stats: ProfileStats,
    *,
    vocab_size: int = VOCAB_SIZE,
    allowed_sources: list[str] | None = None,
    custom: list[CustomCheck] | None = None,
) -> DataFrame:
    """Marking pass for the validation plan: flags + array diagnostics,
    NO token passthrough — (part, doc_id, n_tok, source, _len, _tmin,
    _tmax, f_*, flag_total).

    Why this exists: a scalar pandas UDF buffers its child's FULL rows
    in a JVM-side queue while Arrow batches round-trip to python
    (ArrowEvalPythonExec). When the UDF arguments are expressions over
    ``tokens`` (or single-use projected aliases — CollapseProject
    inlines those right back), the heavy token arrays (~800B/row) land
    in that queue, dominating GC and memory bandwidth at high
    parallelism. Here the token-array reductions (size/min/max) are
    projected ONCE below the UDF and referenced TWICE above it — as UDF
    arguments AND as retained diagnostic columns (they become the
    violation ``detail`` payload) — which blocks CollapseProject from
    re-inlining non-cheap expressions, so Catalyst prunes ``tokens``
    out of the plan right after the reduction projection: the python
    queue holds ~60B/row instead of ~800B. That holds only while no
    Filter sits above the UDF: Catalyst pushes a filter on its output
    (say ``flag_total > 0``) below the projections, re-evaluating the
    UDF over the raw rows, ``tokens`` included, beneath a second
    evaluation. So ``explode_violations`` explodes a null array for
    unflagged rows instead of filtering them. Predicates still evaluate
    vectorized in python over Arrow batches (north-rule contract).

    Flags are bit-identical to the ``mark`` oracle's.

    custom: extra CustomCheck constraints. Their predicates (and detail
    expressions) are computed in the SAME projection as the built-in
    token-array reductions — JVM codegen in the one pass that reads the
    payload — then the flag/detail columns ride above the Arrow UDF
    like the other diagnostics, so ``tokens`` is still pruned out of
    the python exchange.
    """
    return slim_marker(
        stats, vocab_size=vocab_size, allowed_sources=allowed_sources,
        custom=custom,
    )(df)


def mark(
    df: DataFrame,
    stats: ProfileStats,
    *,
    vocab_size: int = VOCAB_SIZE,
    allowed_sources: list[str] | None = None,
    custom: list[CustomCheck] | None = None,
) -> DataFrame:
    """The parity oracle: one 0/1 flag column per row check plus
    ``flag_total``, every predicate a Catalyst Column expression.

    Pure projection (no shuffle); input columns pass through untouched.
    Takes the same arguments as ``mark_slim`` and flags every row the
    same; ``allowed_sources`` adds the referential ``f_ref_source`` flag
    (null sources are not flagged: completeness covers them) and
    ``custom`` the ``f_<name>`` (and ``_d_<name>`` detail) columns.
    Input columns named ``f_*`` would collide with the flag convention
    that explode_violations auto-discovers; the suite's schema
    validation plus validate_custom_checks keep the namespace clean.
    """
    custom = validate_custom_checks(custom)
    nt = F.col("n_tok").cast("double")
    rs = stats.robust
    size = F.coalesce(F.size("tokens"), F.lit(-1))
    flags = {
        "f_null_doc_id": F.isnull("doc_id").cast("int"),
        "f_len_mismatch": F.coalesce(
            (size != F.coalesce(nt, F.lit(-1.0))).cast("int"), F.lit(1)
        ),
        "f_token_oob": F.coalesce(
            (
                (size > 0)
                & ((F.array_min("tokens") < 0) | (F.array_max("tokens") >= vocab_size))
            ).cast("int"),
            F.lit(0),
        ),
        "f_empty_tokens": (size == 0).cast("int"),
        "f_ntok_tukey": F.coalesce(FS.tukey_flag(nt, rs), F.lit(0)),
        "f_ntok_mad": F.coalesce(FS.mad_flag(nt, rs), F.lit(0)),
        "f_ntok_z": F.coalesce(FS.zscore_flag(nt, rs), F.lit(0)),
    }
    out = df.select("*", *[c.alias(name) for name, c in flags.items()])
    flag_cols = list(FLAG_COLS)
    for c in custom:
        out = out.withColumn(f"f_{c.name}", c.flag_col())
        d = c.detail_col()
        if d is not None:
            out = out.withColumn(f"_d_{c.name}", d)
        flag_cols.append(f"f_{c.name}")
    if allowed_sources is not None:
        out = out.select("*", _ref_flag(allowed_sources))
        flag_cols.append(REF_FLAG)
    # Row-wise horizontal sum (TukeyTransformerTotal.py:25-36 analog).
    return out.withColumn(
        "flag_total", FS.flag_total(*[F.col(f) for f in flag_cols])
    )
