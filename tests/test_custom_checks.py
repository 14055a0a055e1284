"""CustomCheck — user-defined constraints riding the marking scan.

The reference's extensibility axis is pluggable sklearn transformers
(pipelines/control.py:153-154). Here a user constraint is a declarative
Column/SQL predicate the suite fuses into the SAME single pass over the
token payload as the built-in checks. These tests pin:

* correctness: violation rows + per-partition verdicts against a pandas
  oracle, for a token-payload predicate (max identical-token run) and a
  light-column predicate (n_tok ceiling);
* hard vs statistical verdict rules;
* engine parity (arrow mark_slim vs native mark);
* the one-scan plan invariant (exactly one parquet scan feeds the
  violations job even with a tokens-referencing custom check);
* name validation (collisions, bad identifiers).
"""

from __future__ import annotations

import contextlib
import io

import pandas as pd
import pytest
from pyspark.sql import Row, functions as F

from autoprepad_spark import CustomCheck, ValidationSuite
from autoprepad_spark.datagen import source_dim
from autoprepad_spark.operators.marking import validate_custom_checks


def _max_run(seq) -> int:
    best = cur = 0
    prev = None
    for t in seq or []:
        cur = cur + 1 if t == prev else 1
        best = max(best, cur)
        prev = t
    return best


#: max-identical-token-run as a pure Column fold — the token-payload
#: custom predicate under test (same shape as token_ops' profile)
def _run_expr(limit: int):
    run = F.aggregate(
        F.col("tokens"),
        F.struct(
            F.lit(None).cast("int").alias("prev"),
            F.lit(0).alias("cur"),
            F.lit(0).alias("best"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(acc["prev"].isNotNull() & (t == acc["prev"]), acc["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            F.greatest(
                acc["best"],
                F.when(
                    acc["prev"].isNotNull() & (t == acc["prev"]), acc["cur"] + 1
                ).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.coalesce(run, F.lit(0)) > limit


@pytest.fixture(scope="module")
def frame(spark):
    rows = []
    for i in range(400):
        toks = [int(x) for x in ((i * 7 + j) % 997 for j in range(20))]
        if i % 25 == 3:  # pad-flooded rows: run of 9 identical tokens
            toks = toks[:11] + [5] * 9
        part = f"p-{i % 4:03d}"
        rows.append(
            Row(
                doc_id=f"doc-{i:012d}",
                tokens=toks,
                n_tok=len(toks),
                source="web" if i % 3 else "books",
                part=part,
            )
        )
    df = spark.createDataFrame(rows, schema="doc_id string, tokens array<int>, n_tok int, source string, part string")
    return df.cache(), pd.DataFrame([r.asDict() for r in rows])


def _checks(stat_rate_limit=900):
    return [
        CustomCheck(
            name="max_token_run",
            predicate=_run_expr(8),
            detail=F.size("tokens").cast("string"),
            hard=True,
        ),
        CustomCheck(
            name="ntok_ceiling",
            predicate=f"n_tok > {stat_rate_limit}",
            hard=False,
        ),
    ]


def test_custom_violations_match_pandas_oracle(spark, frame):
    df, pdf = frame
    res = ValidationSuite(custom_checks=_checks()).run(
        df, dim=source_dim(spark)
    )
    got = {
        (r["part"], r["doc_id"])
        for r in res.violations.filter(
            F.col("check_name") == "max_token_run"
        ).collect()
    }
    want = {
        (r.part, r.doc_id)
        for r in pdf.itertuples()
        if _max_run(r.tokens) > 8
    }
    assert got == want and len(want) == 16  # 400/25 rows engineered
    # detail carries the declared payload (size of tokens)
    details = {
        r["detail"]
        for r in res.violations.filter(
            F.col("check_name") == "max_token_run"
        ).collect()
    }
    assert details == {"20"}
    res.unpersist()


def test_hard_vs_statistical_rules(spark, frame):
    df, pdf = frame
    # hard: every partition contains engineered runs -> fail everywhere.
    # statistical: 0 rows exceed the ceiling -> pass with metric 0.
    res = ValidationSuite(custom_checks=_checks()).run(
        df, dim=source_dim(spark)
    )
    v = {
        (r["part"], r["check_name"]): r["status"]
        for r in res.verdicts.collect()
    }
    for p in ["p-000", "p-001", "p-002", "p-003"]:
        assert v[(p, "max_token_run")] == "fail"
        assert v[(p, "ntok_ceiling")] == "pass"
    res.unpersist()

    # statistical rule flips to fail when the rate exceeds stat_max_rate
    res2 = ValidationSuite(
        custom_checks=[
            CustomCheck(name="ntok_ceiling", predicate="n_tok > 10", hard=False)
        ]
    ).run(df, dim=source_dim(spark))
    v2 = {
        (r["part"], r["check_name"]): r["status"]
        for r in res2.verdicts.collect()
    }
    assert all(
        v2[(p, "ntok_ceiling")] == "fail"
        for p in ["p-000", "p-001", "p-002", "p-003"]
    )
    res2.unpersist()


def test_engine_parity_arrow_vs_native(spark, frame):
    """Custom-check violations are the same from the Arrow marker
    (mark_slim) and from the Column oracle (mark)."""
    from autoprepad_spark.operators.marking import mark, mark_slim
    from autoprepad_spark.operators.profile import global_stats
    from autoprepad_spark.plans.suite import allowed_sources
    from autoprepad_spark.plans.verdicts import explode_violations

    df, _ = frame
    stats = global_stats(df)
    allowed = allowed_sources(source_dim(spark))
    rows = [
        sorted(
            tuple(r)
            for r in explode_violations(
                marker(df, stats, allowed_sources=allowed, custom=_checks())
            ).collect()
        )
        for marker in (mark_slim, mark)
    ]
    assert rows[0] and rows[0] == rows[1]


def test_single_scan_plan_invariant(spark, frame):
    """The violations job must still read the input exactly once with a
    tokens-referencing custom check in play: the custom predicate is
    fused into the marking projection, not a second pass."""
    from autoprepad_spark.operators.marking import mark_slim
    from autoprepad_spark.operators.profile import global_stats
    from autoprepad_spark.plans.verdicts import explode_violations

    df, _ = frame
    stats = global_stats(df)
    marked = mark_slim(df, stats, custom=_checks())
    viol = explode_violations(marked)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        viol.explain("formatted")
    plan = buf.getvalue()
    # the formatted output names each node once in the tree and once in
    # the details section — count leaf scans by their "(id) Node" form
    import re

    # (InMemoryRelation re-prints its cache-BUILD plan — a Scan
    # ExistingRDD child — which is not an execution-time leaf)
    leaves = re.findall(
        r"^\(\d+\) (?:InMemoryTableScan|Scan parquet)", plan, flags=re.M
    )
    assert len(leaves) == 1, leaves
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_checks_subset_applies_to_custom_names(spark, frame):
    df, _ = frame
    res = ValidationSuite(
        custom_checks=_checks(),
        checks=["null_doc_id", "max_token_run"],
    ).run(df)
    names = {r["check_name"] for r in res.verdicts.collect()}
    assert names == {"null_doc_id", "max_token_run"}
    res.unpersist()


def test_runner_check_args(spark, frame, tmp_path):
    """--check NAME=PREDICATE (repeatable, '~' prefix = statistical
    rule) flows from the CLI into the suite and out to the verdict
    sink."""
    from autoprepad_spark.runner import main

    df, _ = frame
    inp, out = f"{tmp_path}/tok.parquet", f"{tmp_path}/out"
    df.write.parquet(inp)
    rc = main([
        "--input", inp, "--output", out, "--run-id", "ck1",
        "--check", "ctx_overflow=n_tok > 19",
        "--check", "~mod3=n_tok % 3 = 0",
    ])
    assert rc == 2  # n_tok == 20 everywhere -> ctx_overflow fails
    v = {
        (r["check_name"], r["status"])
        for r in spark.read.parquet(f"{out}/verdicts").collect()
    }
    assert ("ctx_overflow", "fail") in v
    # rate of n_tok % 3 == 0 is 0 (all rows have n_tok == 20) -> pass
    assert ("mod3", "pass") in v and ("mod3", "fail") not in v


def test_name_validation():
    with pytest.raises(ValueError, match="collides"):
        validate_custom_checks([CustomCheck("ntok_z", "n_tok > 1")])
    with pytest.raises(ValueError, match="identifier"):
        validate_custom_checks([CustomCheck("bad name!", "n_tok > 1")])
    with pytest.raises(ValueError, match="duplicate"):
        validate_custom_checks(
            [CustomCheck("a", "n_tok > 1"), CustomCheck("a", "n_tok > 2")]
        )
