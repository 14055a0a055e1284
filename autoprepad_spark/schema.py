"""Declared schemas and schema-conformance validation.

The reference *infers and coerces* schemas on an untyped pandas frame
(/root/reference/pipelines/preprocessing/dummy/XCopySchemaTransformer.py:55-98):
string NaN sentinels -> true NaN, object -> datetime/float with
errors="coerce". At 10^12-row Iceberg scale the schema is declared, so the
capability inverts: we *validate* an incoming DataFrame against the declared
StructType (names, types, nullability, castability). The coercion
primitives for semi-typed ingest paths (sentinel normalization,
null-on-failure casts) are ``sources.tables.normalize_sentinels`` and
``coerce_to_schema``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, types as T

# ---------------------------------------------------------------------------
# Declared schemas (the north-rule data model)
# ---------------------------------------------------------------------------

#: Input fact table of pre-tokenized training sequences.
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), containsNull=False), nullable=True),
        T.StructField("n_tok", T.IntegerType(), nullable=True),
        T.StructField("source", T.StringType(), nullable=True),
        # Iceberg partition column (parquet partition dir in the sandbox).
        T.StructField("part", T.StringType(), nullable=True),
    ]
)

#: Allowed-dimension table for referential checks on `source`.
SOURCE_DIM_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), nullable=False),
        T.StructField("active", T.BooleanType(), nullable=False),
    ]
)

#: Per-partition verdict rows (the engine's primary output).
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), nullable=False),
        T.StructField("check_name", T.StringType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),  # pass|fail
        T.StructField("metric", T.DoubleType(), nullable=True),
        T.StructField("violation_count", T.LongType(), nullable=False),
        T.StructField("row_count", T.LongType(), nullable=True),
    ]
)

#: Materialized violation rows.
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), nullable=False),
        T.StructField("check_name", T.StringType(), nullable=False),
        T.StructField("doc_id", T.StringType(), nullable=True),
        T.StructField("detail", T.StringType(), nullable=True),
    ]
)

#: Checkpoint / lineage table for resumable runs.
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), nullable=False),
        T.StructField("part", T.StringType(), nullable=False),
        T.StructField("status", T.StringType(), nullable=False),  # done|failed
        T.StructField("n_rows", T.LongType(), nullable=True),
        T.StructField("n_violations", T.LongType(), nullable=True),
        T.StructField("wall_sec", T.DoubleType(), nullable=True),
    ]
)

# NaN sentinels the reference rewrites to true nulls
# (XCopySchemaTransformer.py:55-63).
NAN_SENTINELS = ("NaN", "nan", " ", "")


# ---------------------------------------------------------------------------
# Schema conformance
# ---------------------------------------------------------------------------


@dataclass
class SchemaIssue:
    column: str
    kind: str  # missing | extra | type_mismatch | nullability
    expected: str = ""
    actual: str = ""

    def __str__(self) -> str:  # pragma: no cover - debugging aid
        return f"{self.kind}: {self.column} expected={self.expected} actual={self.actual}"


@dataclass
class SchemaReport:
    issues: list[SchemaIssue] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.issues


def validate_schema(
    df: DataFrame,
    expected: T.StructType,
    *,
    allow_extra: bool = False,
    allow_safe_cast: bool = True,
) -> SchemaReport:
    """Compare df.schema to the declared StructType.

    allow_safe_cast: an actual type that up-casts losslessly to the expected
    type (int->long, float->double, int32 array element -> int64 element)
    is reported OK; anything lossy is a type_mismatch.
    """
    report = SchemaReport()
    actual_fields = {f.name: f for f in df.schema.fields}
    expected_fields = {f.name: f for f in expected.fields}

    for name, exp in expected_fields.items():
        if name not in actual_fields:
            report.issues.append(
                SchemaIssue(name, "missing", expected=exp.dataType.simpleString())
            )
            continue
        act = actual_fields[name]
        if act.dataType != exp.dataType:
            if not (allow_safe_cast and _safe_castable(act.dataType, exp.dataType)):
                report.issues.append(
                    SchemaIssue(
                        name,
                        "type_mismatch",
                        expected=exp.dataType.simpleString(),
                        actual=act.dataType.simpleString(),
                    )
                )
        if act.nullable and not exp.nullable:
            report.issues.append(
                SchemaIssue(name, "nullability", expected="not null", actual="nullable")
            )

    if not allow_extra:
        for name in actual_fields:
            if name not in expected_fields:
                report.issues.append(
                    SchemaIssue(name, "extra", actual=actual_fields[name].dataType.simpleString())
                )
    return report


_SAFE_WIDENING: dict[type, tuple[type, ...]] = {
    T.LongType: (T.IntegerType, T.ShortType, T.ByteType),
    T.IntegerType: (T.ShortType, T.ByteType),
    T.ShortType: (T.ByteType,),
    T.DoubleType: (T.FloatType, T.LongType, T.IntegerType, T.ShortType, T.ByteType),
    T.FloatType: (T.IntegerType, T.ShortType, T.ByteType),
}


def _safe_castable(actual: T.DataType, expected: T.DataType) -> bool:
    # containsNull is metadata, not a type difference: parquet/Iceberg
    # round-trips read list elements as nullable regardless of how they
    # were written, so array<int> (containsNull either way) conforms as
    # long as element types conform.
    if isinstance(actual, T.ArrayType) and isinstance(expected, T.ArrayType):
        return actual.elementType == expected.elementType or _safe_castable(
            actual.elementType, expected.elementType
        )
    allowed = _SAFE_WIDENING.get(type(expected), ())
    return isinstance(actual, allowed)
