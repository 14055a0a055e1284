"""CLI entry point — run the validation suite via spark-submit.

Cluster launch (the north-rule shape):

    zip -r autoprepad_spark.zip autoprepad_spark
    spark-submit --py-files autoprepad_spark.zip \\
        --master <cluster> --num-executors <N> \\
        -m autoprepad_spark.runner \\  # or: path to this file
        --input iceberg.db.tokens --dim iceberg.db.sources \\
        --output /warehouse/validation/run1 --run-id run1 \\
        --checkpoint /warehouse/validation/_lineage

Sandbox launch (local master picked from $SPARK_GRAFT_CPUS):

    python -m autoprepad_spark.runner --input /tmp/tok.parquet \\
        --output /tmp/out --run-id r1

Writes: <output>/verdicts (parquet), <output>/violations (parquet),
appends per-partition lineage rows to the checkpoint table, prints a
one-line JSON summary. Re-running with the same --run-id resumes:
completed partitions are pruned from the scan.

Jobs per call: the suite's own (one fit scan that also counts each
partition's rows and yields the drift histogram, the dimension and
baseline collects, the single violations write, one collect of the
violations' (part, check) counts, and a checkpoint read only when the
checkpoint table exists — see plans/suite.py), the verdict write, the
drift write and the lineage append, each one task and one file. The
verdicts are judged on the driver, so the collect that feeds both the
lineage rows and the failed-check count runs no job. Only the marking
UDF starts Python workers, in one Arrow evaluation per task; every
bookkeeping frame is built in the JVM or over Arrow.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="autoprepad_spark validator")
    ap.add_argument("--input", required=True, help="parquet path or table name")
    ap.add_argument("--dim", default=None, help="allowed-source dim table/path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--checkpoint", default=None, help="lineage table dir")
    ap.add_argument("--baseline-hist", default=None, help="baseline histogram parquet")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--approx", action="store_true",
                    help="sketch quantiles instead of exact histogram")
    ap.add_argument("--report", default=None,
                    help="write an HTML run report to this path (S5 sink)")
    ap.add_argument(
        "--check", action="append", default=[], metavar="NAME=PREDICATE",
        help="user-defined constraint (SQL predicate; true = violation), "
             "repeatable; hard any-violation rule by default — prefix the "
             "name with '~' for the statistical rate rule, e.g. "
             "--check 'ctx_overflow=n_tok > 8192' "
             "--check '~pad=try_element_at(tokens, 1) = 0'",
    )
    ap.add_argument(
        "--checks-from", default=None, metavar="PATH",
        help="parquet of suggestion rows (operators/suggest.py "
             "SUGGESTION_SCHEMA, e.g. a persisted suggest_checks output); "
             "compiled into CustomChecks and merged with --check specs — "
             "the profile-once / validate-forever loop",
    )
    ap.add_argument(
        "--grouped-checks-from", default=None, metavar="GROUPCOL=PATH",
        help="parquet of grouped suggestion rows (operators/suggest.py "
             "GROUPED_SUGGESTION_SCHEMA, e.g. a persisted "
             "suggest_grouped_checks output) compiled against GROUPCOL "
             "into fused per-group CustomChecks",
    )
    ap.add_argument(
        "--sample", type=float, default=None, metavar="FRACTION",
        help="smoke-validate a deterministic doc_id-hash sample of the "
             "input (scan-level predicate, no shuffle; same docs at any "
             "parallelism and on reruns). Statistical verdicts then apply "
             "to the sample; hard checks still fail on any sampled "
             "violation. Uniqueness/row counts are sample-scoped.",
    )
    args = ap.parse_args(argv)
    if args.sample is not None and not (0.0 < args.sample <= 1.0):
        ap.error(f"--sample must be in (0, 1], got {args.sample}")

    from autoprepad_spark.session import get_spark
    from autoprepad_spark.plans.suite import CustomCheck, ValidationSuite
    from autoprepad_spark.plans.checkpoint import CheckpointTable

    custom = []
    for spec in args.check:
        name, sep, pred = spec.partition("=")
        if not sep or not name.strip() or not pred.strip():
            ap.error(f"--check expects NAME=PREDICATE, got {spec!r}")
        name = name.strip()
        hard = not name.startswith("~")
        custom.append(
            CustomCheck(name.lstrip("~"), pred.strip(), hard=hard)
        )

    spark = get_spark("autoprepad-runner", cores=args.cores)

    def load(ref: str):
        if "/" in ref or ref.endswith(".parquet"):
            return spark.read.parquet(ref)
        return spark.read.table(ref)

    if args.checks_from:
        from autoprepad_spark.operators.suggest import to_custom_checks

        custom.extend(to_custom_checks(load(args.checks_from)))
    gcol = None
    if args.grouped_checks_from:
        from autoprepad_spark.operators.suggest import grouped_to_custom_checks

        gcol, sep, gpath = args.grouped_checks_from.partition("=")
        gcol = gcol.strip()
        if not sep or not gcol or not gpath.strip():
            ap.error("--grouped-checks-from expects GROUPCOL=PATH, got "
                     f"{args.grouped_checks_from!r}")
        # raises on a frame with no grouped suggestion rows — a run that
        # silently compiled zero checks would report vacuous passes
        custom.extend(grouped_to_custom_checks(load(gpath.strip()), gcol))

    df = load(args.input)
    if gcol is not None and gcol not in df.columns:
        ap.error(
            f"--grouped-checks-from group column {gcol!r} is not a column "
            f"of the input (have: {df.columns}) — a typo here would make "
            "every per-group arm NULL and silently pass all rows")
    if args.sample is not None and args.sample < 1.0:
        from autoprepad_spark.operators.sampling import deterministic_sample

        df = deterministic_sample(df, args.sample, salt=f"smoke:{args.run_id}")
    dim = load(args.dim) if args.dim else None
    baseline = load(args.baseline_hist) if args.baseline_hist else None
    ck = CheckpointTable(spark, args.checkpoint) if args.checkpoint else None

    t0 = time.perf_counter()
    suite = ValidationSuite(
        exact_quantiles=not args.approx, custom_checks=custom
    )
    # violations materialize straight into the output sink (the suite's
    # distributed-write path) — no in-memory cache of the violation set
    # and no second write pass
    res = suite.run(
        df, dim=dim, baseline_hist=baseline, checkpoint=ck, run_id=args.run_id,
        violation_sink=f"{args.output}/violations",
    )
    res.verdicts.write.mode("overwrite").parquet(f"{args.output}/verdicts")
    if res.drift is not None:
        res.drift.write.mode("overwrite").parquet(f"{args.output}/drift")

    # the verdicts (<= parts x checks rows) are a projection of a local
    # frame: collecting them runs no job, and the lineage rows and the
    # failed-check count both come from this one collect
    verdicts = res.verdicts.collect()
    per_part: dict[str, list[int]] = {}
    for r in verdicts:
        acc = per_part.setdefault(r["part"], [0, 0])
        acc[0] = max(acc[0], r["row_count"] or 0)
        acc[1] += r["violation_count"] or 0
    n_fail = sum(r["status"] == "fail" for r in verdicts)
    elapsed = time.perf_counter() - t0
    if ck is not None:
        ck.mark(
            args.run_id,
            [(p, n, v, elapsed) for p, (n, v) in sorted(per_part.items())],
        )

    if args.report:
        from autoprepad_spark.plans.report import write_report

        write_report(res, args.report, run_id=args.run_id)

    summary = {
        "run_id": args.run_id,
        "rows": res.stats.n_rows,
        "partitions_validated": len(per_part),
        "failed_checks": n_fail,
        "elapsed_sec": round(elapsed, 2),
        **{f"metric_{k}": v for k, v in res.metrics.items()},
    }
    print(json.dumps(summary))
    res.unpersist()
    return 0 if n_fail == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
