"""ValidationSuite — the engine's query-lifecycle orchestrator.

Reference lifecycle (SURVEY.md §3): construct plan -> fit (aggregations)
-> transform (marking) -> verdict emission. Spark lifecycle here:

    suite = ValidationSuite()
    result = suite.run(df, dim=source_dim, baseline_hist=...)
    result.verdicts / result.violations / result.drift

Job graph — the token payload (the table's dominant bytes) is scanned
exactly ONCE per run, and nothing outside the marking UDF starts a
Python worker:
  1. fit + row counts: ONE groupingSets([part], [source, n_tok]) count
     scan (column-pruned, never touches `tokens`), collected. The
     [part] rows are the per-partition row counts; count/min/max/mean/
     std and the exact quantiles/MAD derive from the cells summed over
     source, and the drift histogram is bucketed from the same cells —
     all driver-side. With approximate quantiles the stats come from
     functions/stats.fit_robust_multi(method="approx") instead, and
     without a baseline the [part] set is alone.
  2. resume: the checkpoint's completed set is read once (no job at all
     when the checkpoint table does not exist yet) and prunes the
     marking scan, the uniqueness branch and the row counts
  3. the violations job (runs once, materialized eagerly): marking (JVM
     array reductions + ONE Arrow evaluation of the predicate UDF — the
     single pass that reads `tokens`), with the referential check
     INLINED as a literal isin flag (dimension collected once — no
     separate fact scan/anti-join) -> explode the flagged rows; unioned
     with the hash-keyed salted uniqueness branch (column-pruned scan,
     8-byte shuffle keys) and the fit's row counts as a driver-side
     branch of tagged lineage rows
  4. verdicts: ONE groupBy(part, check_name) count of the materialized
     violation set, collected, densified against the fit's row counts
     and judged on the driver over a local frame — collecting or
     writing the verdicts costs no pass over anything
  5. drift: the baseline histogram is collected and every source scored
     driver-side against the fit's cells — no scan, join or grouped-map
     UDF of its own
Resume: partitions already in the checkpoint table are pruned from the
scan (partition-pruning filter), uniqueness stays global so cross-
partition duplicates are still caught.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from autoprepad_spark import schema as S
from autoprepad_spark.datagen import VOCAB_SIZE
from autoprepad_spark.functions.stats import fit_robust_multi
from autoprepad_spark.operators import drift as drift_mod
from autoprepad_spark.operators.marking import (
    CustomCheck,
    ROW_CHECKS,
    mark_slim,
    validate_custom_checks,
)
from autoprepad_spark.operators.profile import (
    ProfileStats,
    part_and_cell_counts,
    stats_from_ntok_counts,
)
from autoprepad_spark.operators.uniqueness import duplicate_rows
from autoprepad_spark.plans import verdicts as V
from autoprepad_spark.plans.checkpoint import CheckpointTable
from autoprepad_spark.session import local_frame

ALL_CHECKS = ROW_CHECKS + ["unique_doc_id", "ref_source"]
#: tag for the per-partition row-count rows in the violation union.
#: A configured violation_sink therefore contains these bookkeeping rows
#: (check_name == ROW_COUNT_MARK, detail == the partition's row count) —
#: per-partition lineage records that ride the same distributed write;
#: ValidationResult.violations filters them out, and consumers reading
#: the sink directly should filter on check_name != ROW_COUNT_MARK.
ROW_COUNT_MARK = "__row_count__"
_RC_SCHEMA = T.StructType([
    T.StructField(name, T.StringType())
    for name in ("part", "check_name", "doc_id", "detail")
])


def allowed_sources(dim: DataFrame) -> list[str]:
    """The referential check's allowed set: the dimension's sources
    (only the ``active`` ones when it has that column), sorted.

    The dimension side must fit executor memory to be broadcastable at
    all, so it is collected once and the check rides the marking pass
    as a literal isin flag. De-duplicated on the driver: a distinct
    would add a shuffle job for a table this small."""
    if "active" in dim.columns:
        dim = dim.filter(F.col("active"))
    return sorted({r["source"] for r in dim.select("source").collect()})


def read_violations(spark, path: str) -> DataFrame:
    """Read a violation sink written by ValidationSuite.run(violation_sink=...).

    The sink contains per-partition row-count bookkeeping rows
    (check_name == ROW_COUNT_MARK, doc_id null, detail = the count) that
    ride the distributed violations write as a tagged union branch; the
    counts come from the fit's scan, so lineage costs no extra pass.
    This is THE supported way to consume the sink as pure violations;
    ``read_row_counts`` returns the lineage side."""
    return spark.read.parquet(path).filter(F.col("check_name") != ROW_COUNT_MARK)


def read_row_counts(spark, path: str) -> DataFrame:
    """(part, row_count) lineage rows from a violation sink."""
    return (
        spark.read.parquet(path)
        .filter(F.col("check_name") == ROW_COUNT_MARK)
        .select("part", F.col("detail").cast("long").alias("row_count"))
    )


@dataclass
class ValidationResult:
    stats: ProfileStats
    verdicts: DataFrame
    violations: DataFrame
    marked: DataFrame
    drift: DataFrame | None = None
    schema_issues: list = field(default_factory=list)
    #: run metrics captured via Observation on the violations write —
    #: free of charge (no extra pass): n_violation_rows, n_partitions
    metrics: dict = field(default_factory=dict)
    _cached: list = field(default_factory=list)

    def top_violations(self, n: int = 100) -> DataFrame:
        return V.top_violations(self.violations, self.marked, n)

    def unpersist(self) -> None:
        """Release the run's internal caches (core + violations)."""
        for c in self._cached:
            c.unpersist()


@dataclass
class ValidationSuite:
    vocab_size: int = VOCAB_SIZE
    exact_quantiles: bool = True  # False -> percentile_approx sketch (scale path)
    stat_max_rate: float = V.STAT_MAX_RATE
    bucket_width: int = drift_mod.DEFAULT_BUCKET_WIDTH
    validate_input_schema: bool = True
    #: restrict to a subset of ALL_CHECKS (the reference's exclusion
    #: knobs, pipelines/runs.py:287-308); None = run everything. Skipped
    #: branches are skipped in the PLAN (no uniqueness shuffle when
    #: unique_doc_id is excluded, no dim collect when ref_source is).
    checks: list[str] | None = None
    #: user-defined constraints (marking.CustomCheck): declarative
    #: Column/SQL predicates fused into the SAME marking scan as the
    #: built-ins — violations, per-partition verdicts (hard or
    #: statistical rule), checkpoint/resume and sinks all treat them
    #: exactly like built-in checks. The `checks` subset knob applies
    #: to their names too.
    custom_checks: list = field(default_factory=list)

    def run(
        self,
        df: DataFrame,
        *,
        dim: DataFrame | None = None,
        baseline_hist: DataFrame | None = None,
        checkpoint: CheckpointTable | None = None,
        run_id: str | None = None,
        stats: ProfileStats | None = None,
        violation_sink: str | None = None,
    ) -> ValidationResult:
        issues = []
        if self.validate_input_schema:
            report = S.validate_schema(df, S.TOKENS_SCHEMA, allow_extra=True)
            issues = report.issues
            if any(i.kind in ("missing", "type_mismatch") for i in issues):
                raise ValueError(f"input schema does not conform: {issues}")

        # fit statistics ALWAYS over the full table (resume-deterministic);
        # the same scan counts each partition's rows, and the exact fit's
        # (source, n_tok) cells also give drift its current histogram, so
        # neither costs a scan of its own
        part_rows, cells = part_and_cell_counts(
            df,
            cells=baseline_hist is not None
            or (stats is None and self.exact_quantiles),
        )
        if stats is None:
            if self.exact_quantiles:
                stats = stats_from_ntok_counts((v, n) for _, v, n in cells)
            else:
                stats = ProfileStats.from_robust(
                    sum(part_rows.values()),
                    fit_robust_multi(df, ["n_tok"], method="approx")["n_tok"],
                )

        # the completed set is read once and prunes both the marking scan
        # and the uniqueness branch; like ~isin(done), the row counts drop
        # a null part on resume
        done = checkpoint.completed_parts(run_id) if checkpoint and run_id else []
        not_done = ~F.col("part").isin(done)
        todo = df.filter(not_done) if done else df
        if done:
            part_rows = {
                p: n for p, n in part_rows.items() if p is not None and p not in done
            }

        custom = validate_custom_checks(self.custom_checks)
        custom_names = [c.name for c in custom]
        all_checks = ALL_CHECKS + custom_names
        selected = set(self.checks) if self.checks is not None else set(all_checks)
        unknown = selected - set(all_checks)
        if unknown:
            raise ValueError(f"unknown checks: {sorted(unknown)}")
        custom = [c for c in custom if c.name in selected]

        # Referential check: inlined into the marking pass as a literal
        # isin flag — no second fact-table scan, no anti-join.
        allowed = None
        if dim is not None and "ref_source" in selected:
            allowed = allowed_sources(dim)

        # The plan's marking pass carries no token passthrough (the
        # validator never emits tokens): mark_slim keeps tokens out of
        # the Arrow UDF's input queue — see its docstring.
        marked = mark_slim(
            todo, stats, vocab_size=self.vocab_size, allowed_sources=allowed,
            custom=custom,
        )
        # ONE pass reads the token payload: marking (JVM array reductions
        # + Arrow predicate UDF, evaluated once) -> explode the flagged
        # rows, inside the violations job below, which runs exactly once
        # (violations are materialized eagerly). Every other pass is
        # column-pruned and never touches `tokens`.
        row_viol = V.explode_violations(marked, include=selected)

        # uniqueness over the FULL table (cross-partition duplicates must
        # be caught even on resume): needs only key + light columns — a
        # column-pruned scan shuffling 8-byte key hashes, independent of
        # the marking pass
        dup_viol = None
        if "unique_doc_id" in selected:
            dup_src = df.select("part", "doc_id", "n_tok", "source")
            dup_viol = (
                duplicate_rows(dup_src, "doc_id")
                .select(
                    "part",
                    F.lit("unique_doc_id").alias("check_name"),
                    "doc_id",
                    F.lit(None).cast("string").alias("detail"),
                )
            )
            if done:
                dup_viol = dup_viol.filter(not_done)

        # the fit's per-partition row counts reach the sink as tagged
        # lineage rows: a driver-side branch of the same write. The union
        # is planned in df's session, so the branch is coalesced to keep
        # it one task and one file.
        rc_rows = local_frame(
            df.sparkSession,
            pd.DataFrame(
                [(p, ROW_COUNT_MARK, None, str(n)) for p, n in part_rows.items()],
                columns=_RC_SCHEMA.fieldNames(),
            ),
            _RC_SCHEMA,
        ).coalesce(1)

        violations = row_viol.unionByName(rc_rows)
        if dup_viol is not None:
            violations = violations.unionByName(dup_viol)
        # free run metrics: Observation aggregates ride the same action
        # that materializes the union — no extra pass over anything
        from pyspark.sql import Observation

        obs = Observation()
        violations = violations.observe(
            obs,
            F.coalesce(
                F.sum((F.col("check_name") != ROW_COUNT_MARK).cast("long")),
                F.lit(0),
            ).alias("n_violation_rows"),
            F.coalesce(
                F.sum((F.col("check_name") == ROW_COUNT_MARK).cast("long")),
                F.lit(0),
            ).alias("n_partitions"),
        )
        # Materialize the violation set ONCE, eagerly — consuming it
        # lazily through downstream joins does not reliably populate a
        # cache (observed: the verdict DAG's broadcast side bypassed it),
        # which silently re-ran the marking pass + uniqueness shuffle per
        # consumer. With a sink configured (the production shape: an
        # Iceberg/parquet violations table), materialization is a fully
        # distributed write and verdict counts aggregate from the sink;
        # without one, fall back to an in-memory cache + eager count.
        cached = []
        if violation_sink is not None:
            violations.write.mode("overwrite").parquet(violation_sink)
            # the schema is known: reading it back needs no footer job
            violations = df.sparkSession.read.schema(violations.schema).parquet(
                violation_sink
            )
        else:
            violations = violations.cache()
            violations.count()
            cached.append(violations)

        violations = violations.filter(F.col("check_name") != ROW_COUNT_MARK)
        check_names = [
            c
            for c in all_checks
            if c in selected and (c != "ref_source" or dim is not None)
        ]
        hard = V.HARD_CHECKS | {c.name for c in custom if c.hard}
        stat_rates = {
            c.name: c.stat_max_rate
            for c in custom
            if not c.hard and c.stat_max_rate is not None
        }
        verdicts = V.driver_verdicts(
            part_rows, violations, check_names,
            stat_max_rate=self.stat_max_rate, hard_checks=hard,
            stat_rates=stat_rates,
        )

        drift_df = None
        if baseline_hist is not None:
            drift_df = drift_mod.drift_from_counts(
                df.sparkSession,
                drift_mod.collect_histogram(baseline_hist),
                drift_mod.bucket_counts(cells, bucket_width=self.bucket_width),
            )

        return ValidationResult(
            stats=stats,
            verdicts=verdicts,
            violations=violations,
            marked=marked,
            drift=drift_df,
            schema_issues=issues,
            metrics=dict(obs.get),
            _cached=cached,
        )
