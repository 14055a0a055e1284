"""End-to-end slice: datagen -> profile -> marking -> verdicts.

Mirrors the reference's experiment harness pattern (inject labeled
anomalies, run pipeline, assert quality — /root/reference/pipelines/
experiment/experiment.py:180-294) with EXACT oracles instead of
statistical ones.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from autoprepad_spark import ValidationSuite
from autoprepad_spark import datagen as G
from autoprepad_spark.schema import TOKENS_SCHEMA, validate_schema


def _oracle_pandas(spark_df) -> pd.DataFrame:
    """Independent pandas oracle of the generated table."""
    pdf = spark_df.toPandas()
    return pdf


def test_generation_deterministic_across_parallelism(spark):
    a = G.generate_tokens(spark, 25_000, seed=7, num_tasks=2).toPandas()
    b = G.generate_tokens(spark, 25_000, seed=7, num_tasks=16).toPandas()
    a = a.sort_values("doc_id", na_position="last").reset_index(drop=True)
    b = b.sort_values("doc_id", na_position="last").reset_index(drop=True)
    assert a["n_tok"].tolist() == b["n_tok"].tolist()
    assert a["source"].tolist() == b["source"].tolist()
    for x, y in zip(a["tokens"], b["tokens"]):
        assert np.array_equal(x, y)


def test_schema_conformance(tokens_df):
    report = validate_schema(tokens_df, TOKENS_SCHEMA, allow_extra=False)
    assert report.ok, report.issues


def test_suite_end_to_end(spark, tokens_df, dim_df):
    suite = ValidationSuite()
    res = suite.run(tokens_df, dim=dim_df)

    verdicts = res.verdicts.toPandas().set_index(["part", "check_name"])
    pdf = _oracle_pandas(tokens_df)

    # clean partition p-000 passes every hard check
    for check in ["null_doc_id", "len_mismatch", "token_oob", "empty_tokens",
                  "unique_doc_id", "ref_source"]:
        row = verdicts.loc[("p-000", check)]
        assert row["status"] == "pass", (check, row)
        assert row["violation_count"] == 0

    # oracle: null doc_id count per part
    nulls = pdf[pdf["doc_id"].isna()].groupby("part").size()
    for part, cnt in nulls.items():
        row = verdicts.loc[(part, "null_doc_id")]
        assert row["violation_count"] == cnt
        assert row["status"] == "fail"

    # oracle: len mismatch per part
    mism = pdf[pdf["tokens"].map(len) != pdf["n_tok"]].groupby("part").size()
    for part, cnt in mism.items():
        assert verdicts.loc[(part, "len_mismatch")]["violation_count"] == cnt

    # oracle: out-of-vocab tokens
    oob = pdf[pdf["tokens"].map(lambda t: len(t) > 0 and (t.max() >= G.VOCAB_SIZE or t.min() < 0))]
    oobc = oob.groupby("part").size()
    for part, cnt in oobc.items():
        assert verdicts.loc[(part, "token_oob")]["violation_count"] == cnt

    # oracle: referential violations
    bad_src = pdf[pdf["source"] == G.UNKNOWN_SOURCE].groupby("part").size()
    for part, cnt in bad_src.items():
        assert verdicts.loc[(part, "ref_source")]["violation_count"] == cnt

    # oracle: duplicate doc_id rows (all rows of keys with count>1)
    vc = pdf["doc_id"].value_counts()
    dup_keys = set(vc[vc > 1].index)
    dup_rows = pdf[pdf["doc_id"].isin(dup_keys)].groupby("part").size()
    for part, cnt in dup_rows.items():
        assert verdicts.loc[(part, "unique_doc_id")]["violation_count"] == cnt

    # row_count column matches
    sizes = pdf.groupby("part").size()
    for part, cnt in sizes.items():
        assert verdicts.loc[(part, "null_doc_id")]["row_count"] == cnt


def test_token_array_invariant(tokens_df):
    """North-rule per-row invariant: the marking pass passes `tokens`
    through untouched (byte-equal arrays)."""
    from autoprepad_spark.operators.marking import mark
    from autoprepad_spark.operators.profile import global_stats

    stats = global_stats(tokens_df)
    marked = mark(tokens_df, stats).filter(F.col("doc_id").isNotNull())
    joined = (
        tokens_df.filter(F.col("doc_id").isNotNull())
        .groupBy("doc_id").agg(F.first("tokens").alias("t_in"))
        .join(
            marked.groupBy("doc_id").agg(F.first("tokens").alias("t_out")),
            "doc_id",
        )
    )
    diff = joined.filter(F.col("t_in") != F.col("t_out")).count()
    assert diff == 0


def test_arrow_native_engines_agree(spark, tokens_df):
    """The Arrow marker (mark_slim) flags every row as the Column oracle
    (mark) does."""
    from autoprepad_spark.operators.marking import FLAG_COLS, mark, mark_slim
    from autoprepad_spark.operators.profile import global_stats

    stats = global_stats(tokens_df)
    cols = [F.sum(c).alias(c) for c in FLAG_COLS] + [F.sum("flag_total").alias("ft")]
    a = mark_slim(tokens_df, stats).agg(*cols).collect()[0]
    n = mark(tokens_df, stats).agg(*cols).collect()[0]
    assert a.asDict() == n.asDict()


def test_profile_matches_numpy_oracle(spark, tokens_df):
    from autoprepad_spark.operators.profile import global_stats

    stats = global_stats(tokens_df)
    nt = tokens_df.select("n_tok").toPandas()["n_tok"].to_numpy(dtype=float)
    assert stats.n_rows == len(nt)
    assert stats.mean_n_tok == pytest.approx(np.mean(nt))
    assert stats.std_n_tok == pytest.approx(np.std(nt, ddof=1))
    assert stats.q1_n_tok == pytest.approx(np.quantile(nt, 0.25))
    assert stats.median_n_tok == pytest.approx(np.quantile(nt, 0.5))
    assert stats.q3_n_tok == pytest.approx(np.quantile(nt, 0.75))
    med = np.quantile(nt, 0.5)
    assert stats.mad_n_tok == pytest.approx(np.quantile(np.abs(nt - med), 0.5))


def _null_part_rows(spark):
    """Two rows without a partition key, one of them without a doc_id
    (a hard null_doc_id violation), beside one clean keyed row."""
    rows = [(None, [1, 2, 3], 3, "web", None),
            ("np-1", [1, 2, 3], 3, "web", None),
            ("kp-1", [1, 2, 3], 3, "web", "p-000")]
    return spark.createDataFrame(rows, TOKENS_SCHEMA)


def test_suite_null_part_counts_its_violations(spark, tmp_path):
    """A null ``part`` is a partition of its own: its hard violation
    fails its verdict instead of vanishing in the verdict join."""
    res = ValidationSuite().run(_null_part_rows(spark),
                                violation_sink=str(tmp_path / "viol"))
    got = {(r["part"], r["check_name"]): (r["status"], r["violation_count"], r["row_count"])
           for r in res.verdicts.collect()}
    assert got[(None, "null_doc_id")] == ("fail", 1, 2)
    assert got[("p-000", "null_doc_id")] == ("pass", 0, 1)


def test_flag_count_verdicts_match_assembled(spark, tokens_df, dim_df):
    """The stream's one-aggregation verdicts equal the suite's verdicts
    assembled from the violation set, null partition included."""
    from autoprepad_spark.operators.marking import ROW_CHECKS, mark_slim
    from autoprepad_spark.operators.profile import global_stats
    from autoprepad_spark.plans import verdicts as V
    from autoprepad_spark.plans.suite import allowed_sources

    df = tokens_df.unionByName(_null_part_rows(spark))
    marked = mark_slim(df, global_stats(tokens_df),
                       allowed_sources=allowed_sources(dim_df)).cache()
    checks = ROW_CHECKS + ["ref_source"]
    row_counts = df.groupBy("part").agg(F.count(F.lit(1)).alias("row_count"))
    want = V.assemble_verdicts(row_counts, V.explode_violations(marked), checks)
    got = V.flag_count_verdicts(checks)(marked)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema]
    rows = sorted(map(tuple, want.collect()), key=str)
    assert sorted(map(tuple, got.collect()), key=str) == rows
    assert any(r[0] is None and r[1] == "null_doc_id" and r[2] == "fail" for r in rows)
    marked.unpersist()


@pytest.mark.parametrize("case", ["fresh", "resume", "empty"])
def test_driver_verdicts_match_assembled(spark, tokens_df, tmp_path, case):
    """The suite's driver-judged verdicts equal ``assemble_verdicts`` over
    the same violation sink: with a null partition, on a resume that
    skips done parts (the null part is dropped with them), and on an
    empty table (no verdict rows)."""
    from autoprepad_spark.plans import verdicts as V
    from autoprepad_spark.plans.checkpoint import CheckpointTable
    from autoprepad_spark.plans.suite import ALL_CHECKS, read_row_counts, read_violations

    df = tokens_df.unionByName(_null_part_rows(spark))
    if case == "empty":
        df = spark.createDataFrame([], TOKENS_SCHEMA)
    ck = CheckpointTable(spark, str(tmp_path / "ck"))
    done = ["p-001", "p-003"] if case == "resume" else []
    if done:
        ck.mark("r", [(p, 1, 0, 0.0) for p in done])
    sink = str(tmp_path / "viol")
    res = ValidationSuite().run(df, checkpoint=ck, run_id="r", violation_sink=sink)
    checks = [c for c in ALL_CHECKS if c != "ref_source"]
    want = V.assemble_verdicts(
        read_row_counts(spark, sink), read_violations(spark, sink), checks)
    assert [(f.name, f.dataType) for f in res.verdicts.schema] == [
        (f.name, f.dataType) for f in want.schema]
    rows = sorted(map(tuple, want.collect()), key=str)
    assert sorted(map(tuple, res.verdicts.collect()), key=str) == rows
    parts = {r[0] for r in rows}
    if case == "fresh":
        assert parts == {f"p-{i:03d}" for i in range(8)} | {None}
        assert any(r[0] is None and r[1] == "null_doc_id" and r[2] == "fail" for r in rows)
    elif case == "resume":
        assert parts == {f"p-{i:03d}" for i in range(8)} - set(done)
    else:
        assert rows == []


def test_driver_verdicts_raise_above_the_driver_bound(spark):
    """A verdict grid larger than MAX_DRIVER_VERDICTS fails loudly, before
    any job collects the counts."""
    from autoprepad_spark.plans import verdicts as V

    parts = {f"p-{i}": 1 for i in range(V.MAX_DRIVER_VERDICTS // 10 + 1)}
    viol = spark.createDataFrame([], "part string, check_name string")
    with pytest.raises(ValueError, match="judged on the driver"):
        V.driver_verdicts(parts, viol, [f"c{i}" for i in range(10)])
