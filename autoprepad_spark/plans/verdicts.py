"""Verdict + violation assembly.

The reference emits per-row AnomalyScore/AnomalyLabel plus MAD_Total /
Tukey_Total counts, violation rows sorted to the top
(/root/reference/pipelines/runs.py:198-222, experiment.py:424-454). The
engine's equivalent output is:

* ``violations`` — one row per (row, violated check): the materialized
  violation set, severity-orderable,
* ``verdicts``  — one row per (partition, check): pass/fail + metric +
  violation_count + row_count.

Scale design: the expensive marking pass runs ONCE — violations are
materialized first (only flagged rows explode, so the output stays
tiny), and the suite's verdicts are then judged on the driver
(``driver_verdicts``): ONE ``groupBy(part, check_name)`` count of the
violation set is collected, densified against the per-partition row
counts the fit's scan already collected, and judged by applying
``_judge`` to a local frame — no pass over the input, no join.
``assemble_verdicts`` is the same judgement as a Spark plan over a
violation sink and its row-count rows, kept as the reference the driver
path is tested against.

A stream batch is small enough to cache marked, so its verdicts skip the
violation set: ``flag_count_verdicts`` sums each check's flag per
partition in the same aggregation that counts the rows. Every path
judges with one projection (``_judge``). ``violation_exploder`` and
``flag_count_verdicts`` make their Columns once and return functions
that only apply them, so a streaming query makes them once per query.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from autoprepad_spark.operators.marking import FLAG_COLS, REF_CHECK, REF_FLAG, ROW_CHECKS
from autoprepad_spark.session import local_frame

#: checks whose violations are hard failures (any violation -> fail)
HARD_CHECKS = {
    "null_doc_id",
    "len_mismatch",
    "token_oob",
    "empty_tokens",
    "unique_doc_id",
    "ref_source",
}
#: statistical checks pass while the violation RATE stays under threshold
#: (default 0.1 — the reference's top-10% labeling default, control.py:98)
STAT_MAX_RATE = 0.1
#: (part x check) verdict cells ``driver_verdicts`` judges on the driver
#: at most: 10^5 partitions x 10 checks. Up to here the counts collect
#: and the local frame stay a few tens of MB (under Arrow's 48 MB
#: local-relation threshold, so collecting the verdicts runs no job).
MAX_DRIVER_VERDICTS = 1_000_000


def violation_exploder(
    columns: list[str], include: set[str] | None = None
) -> Callable[[DataFrame], DataFrame]:
    """``explode_violations`` for marked frames with these ``columns``,
    its Columns built once: the returned function only applies them."""
    ntd = F.col("n_tok").cast("string")
    details = {}
    if "_len" in columns:
        len_detail = F.concat_ws(":", ntd, F.col("_len").cast("string"))
        details["len_mismatch"] = len_detail
        details["empty_tokens"] = len_detail
        details["token_oob"] = F.concat_ws(
            ":",
            F.col("_tmin").cast("long").cast("string"),
            F.col("_tmax").cast("long").cast("string"),
        )
    checks = [
        (name, flag, details.get(name, ntd))
        for name, flag in zip(ROW_CHECKS, FLAG_COLS)
    ]
    if REF_FLAG in columns:
        checks.append((REF_CHECK, REF_FLAG, F.col("source")))
    # custom checks ride the marking pass as f_<name> (+ optional
    # _d_<name> detail) columns — auto-discovered here by convention,
    # so the explode needs no side-channel check registry
    known = set(FLAG_COLS) | {REF_FLAG}
    for col in columns:
        if col.startswith("f_") and col not in known:
            name = col[2:]
            detail = F.col(f"_d_{name}") if f"_d_{name}" in columns else ntd
            checks.append((name, col, detail))
    if include is not None:
        checks = [c for c in checks if c[0] in include]
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(flag).alias("v"),
                detail.alias("detail"),
            )
            for name, flag, detail in checks
        ]
    )
    # no Filter on flag_total: Catalyst would push it below the marking
    # projections and evaluate the flag UDF twice, once over the raw rows
    # with their tokens. Unflagged rows explode a null array, which emits
    # nothing, and Spark infers no filter from a generator over an
    # expression (only over a bare column).
    flagged = F.col("flag_total") > 0
    hit = [
        F.col("part"),
        F.explode(
            F.filter(F.when(flagged, pairs), lambda s: s["v"] == 1)
        ).alias("_h"),
        F.col("doc_id"),
    ]
    flat = [
        F.col("part"),
        F.col("_h.check_name").alias("check_name"),
        F.col("doc_id"),
        F.col("_h.detail").alias("detail"),
    ]
    return lambda marked: marked.select(*hit).select(*flat)


def explode_violations(marked: DataFrame, include: set[str] | None = None) -> DataFrame:
    """Marked rows -> one violation row per (row, violated check).

    Only rows with flag_total > 0 explode into violation rows (a <<1%
    subset); the rest explode a null array, so the plan has no Filter
    above the marking UDF for Catalyst to push below it. Picks up the
    inlined referential flag automatically when the marking pass added
    it (detail = the offending source value; row checks carry n_tok).
    When the marking pass retained the array diagnostics (mark_slim),
    structural checks carry them in detail — n_tok:actual_len for
    length checks, min:max token ids for the bounds check. (These
    references also pin the reductions as multi-use projected columns,
    which is what keeps the token payload out of the python-exchange
    queue, with no Filter above the UDF — see mark_slim.)
    """
    return violation_exploder(marked.columns, include)(marked)


def _judge(
    stat_max_rate: float = STAT_MAX_RATE,
    hard_checks: set[str] | None = None,
    stat_rates: dict[str, float] | None = None,
) -> list[Column]:
    """The verdict projection over (part, check_name, violation_count,
    row_count) rows: the hard checks fail on any violation, the others
    when the violation rate exceeds their ceiling."""
    rate = F.col("violation_count") / F.greatest(F.col("row_count"), F.lit(1))
    is_hard = F.col("check_name").isin(*sorted(hard_checks or HARD_CHECKS))
    ceiling = F.lit(stat_max_rate)
    for name, r in sorted((stat_rates or {}).items()):
        ceiling = F.when(F.col("check_name") == name, F.lit(float(r))).otherwise(
            ceiling
        )
    status = F.when(
        is_hard, F.when(F.col("violation_count") > 0, "fail").otherwise("pass")
    ).otherwise(F.when(rate > ceiling, "fail").otherwise("pass"))
    return [
        F.col("part"),
        F.col("check_name"),
        status.alias("status"),
        rate.cast("double").alias("metric"),
        F.col("violation_count").cast("long"),
        F.col("row_count").cast("long"),
    ]


def assemble_verdicts(
    row_counts: DataFrame,
    violations: DataFrame,
    check_names: list[str],
    *,
    stat_max_rate: float = STAT_MAX_RATE,
    hard_checks: set[str] | None = None,
    stat_rates: dict[str, float] | None = None,
) -> DataFrame:
    """Densify (part x check) and compute pass/fail.

    row_counts: (part, row_count); violations: VIOLATION_SCHEMA rows.
    hard_checks: names judged by the any-violation-fails rule (default
    HARD_CHECKS); everything else uses the statistical rate rule. The
    suite extends the default set with hard CustomChecks.
    stat_rates: per-check overrides of the statistical ceiling (from
    CustomCheck.stat_max_rate) — a when-chain over a handful of names,
    so the verdict expression stays pure codegen.

    The counts join the grid null-safely on ``part``: a null partition
    key is a partition of its own, and its violations count.
    """
    names = F.array(*[F.lit(c) for c in check_names]).cast("array<string>")
    grid = row_counts.select(
        "part", "row_count", F.explode(names).alias("check_name")
    ).alias("g")
    counts = violations.groupBy("part", "check_name").agg(
        F.count(F.lit(1)).alias("violation_count")
    ).alias("c")
    merged = grid.join(
        counts,
        F.col("g.part").eqNullSafe(F.col("c.part"))
        & (F.col("g.check_name") == F.col("c.check_name")),
        "left",
    ).select(
        F.col("g.part").alias("part"),
        F.col("g.check_name").alias("check_name"),
        F.coalesce(F.col("c.violation_count"), F.lit(0)).alias("violation_count"),
        F.col("g.row_count").alias("row_count"),
    )
    return merged.select(*_judge(stat_max_rate, hard_checks, stat_rates))


_COUNT_SCHEMA = T.StructType([
    T.StructField("part", T.StringType()),
    T.StructField("check_name", T.StringType()),
    T.StructField("violation_count", T.LongType()),
    T.StructField("row_count", T.LongType()),
])


def driver_verdicts(
    row_counts: dict,
    violations: DataFrame,
    check_names: list[str],
    *,
    stat_max_rate: float = STAT_MAX_RATE,
    hard_checks: set[str] | None = None,
    stat_rates: dict[str, float] | None = None,
) -> DataFrame:
    """``assemble_verdicts`` judged on the driver.

    row_counts: {part: row_count} for the partitions to judge (a null
    ``part`` is a partition of its own); violations: VIOLATION_SCHEMA
    rows. ONE ``groupBy(part, check_name)`` count of the violations is
    collected, densified into the (part x check) grid here, and judged
    by ``_judge`` over a local frame, so collecting the verdicts runs no
    job and writing them is one task. Raises above MAX_DRIVER_VERDICTS
    grid cells, where a driver-side grid stops being cheap."""
    cells = len(row_counts) * len(check_names)
    if cells > MAX_DRIVER_VERDICTS:
        raise ValueError(
            f"{len(row_counts)} partitions x {len(check_names)} checks = {cells} "
            f"verdicts, above the {MAX_DRIVER_VERDICTS} judged on the driver"
        )
    counts = {
        (r["part"], r["check_name"]): r["count"]
        for r in violations.groupBy("part", "check_name").count().collect()
    }
    pdf = pd.DataFrame(
        [
            (p, c, counts.get((p, c), 0), n)
            for p, n in row_counts.items()
            for c in check_names
        ],
        columns=_COUNT_SCHEMA.fieldNames(),
    )
    return local_frame(violations.sparkSession, pdf, _COUNT_SCHEMA).select(
        *_judge(stat_max_rate, hard_checks, stat_rates)
    )


def flag_count_verdicts(check_names: list[str]) -> Callable[[DataFrame], DataFrame]:
    """Verdicts straight from a marked frame, its Columns built once:
    ONE ``groupBy("part")`` aggregation gives each partition's row count
    and, per check, the sum of its ``f_<check>`` flag, which is the
    number of violation rows ``explode_violations`` emits for it. The
    (part x check) grid is an explode of those sums, and the judging
    projection is ``assemble_verdicts``' with its default rule. A null
    ``part`` is one group, like any other."""
    aggs = [F.count(F.lit(1)).alias("row_count")] + [
        F.sum(f"f_{c}").alias(f"_n{i}") for i, c in enumerate(check_names)
    ]
    grid = [
        F.col("part"),
        F.col("row_count"),
        F.inline(F.array(*[
            F.struct(
                F.lit(c).alias("check_name"),
                F.col(f"_n{i}").alias("violation_count"),
            )
            for i, c in enumerate(check_names)
        ])),
    ]
    judge = _judge()
    return lambda marked: (
        marked.groupBy("part").agg(*aggs).select(*grid).select(*judge)
    )


def top_violations(violations: DataFrame, marked: DataFrame, n: int = 100) -> DataFrame:
    """Severity-ordered head — the analog of the reference's sort-desc-by-
    (AnomalyScore, MAD_Total, Tukey_Total) output (runs.py:435).
    TakeOrderedAndProject: no full sort materialization."""
    sev = marked.filter(F.col("flag_total") > 0).select(
        "part", "doc_id", "flag_total"
    )
    return (
        violations.join(sev, ["part", "doc_id"], "left")
        .orderBy(F.desc_nulls_last("flag_total"), "part", "doc_id")
        .limit(n)
    )
