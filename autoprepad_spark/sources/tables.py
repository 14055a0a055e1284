"""Table layer — Iceberg-shaped partitioned tables with a parquet sandbox
backend, plus typed CSV/JSON ingest.

The reference's only sources/sinks are pandas CSV round-trips
(/root/reference/main.py:16,33, pipelines/experiment/experiment.py:494-502).
At the north-rule scale the fact table is an Iceberg table; this module
abstracts it so the engine code is backend-agnostic:

* ``PartitionedTable`` — hive-layout parquet partitioned by ``part``
  (the sandbox stand-in for an Iceberg identity-partitioned table). On a
  real catalog, swap read/append for ``spark.read.table`` /
  ``df.writeTo(name).append()``; the engine only uses this interface.
  ``scan(parts=...)`` pushes the partition predicate into the scan so
  file pruning happens at planning time (no data files of other
  partitions are opened) — the property checkpoint-resume relies on.
* ``read_csv_typed`` / ``read_json_typed`` — declared-schema ingest with
  the reference's NaN-sentinel normalization and null-on-failure casts
  (XCopySchemaTransformer.py:55-98 re-expressed as native expressions).
* ``list_names`` — the one existence/listing probe for table
  directories, through the Hadoop FileSystem of the path's scheme.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from autoprepad_spark.schema import NAN_SENTINELS


class PartitionedTable:
    """Identity-partitioned table on the ``part`` column.

    Sandbox backend: hive-style parquet directory (``part=<value>/``
    subdirs). Iceberg backend: set ``catalog_name`` and the same calls
    route through the catalog (not exercised in this container).
    """

    def __init__(self, spark: SparkSession, path: str, partition_col: str = "part"):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col

    def exists(self) -> bool:
        return any(True for _ in list_names(self.spark, self.path))

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        df.write.mode(mode).partitionBy(self.partition_col).parquet(self.path)

    def append(self, df: DataFrame) -> None:
        self.write(df, mode="append")

    def scan(self, parts: list[str] | None = None, columns: list[str] | None = None) -> DataFrame:
        """Read with partition pruning (parts) and column pruning (columns).

        The ``isin`` filter on the partition column resolves against the
        hive directory layout at planning time — ``explain`` shows
        ``PartitionFilters: [part IN (...)]`` and only matching files are
        listed. Equivalent to Iceberg partition pruning on an identity
        transform.
        """
        df = self.spark.read.parquet(self.path)
        if parts is not None:
            df = df.filter(F.col(self.partition_col).isin(parts))
        if columns is not None:
            df = df.select(*columns)
        return df

    def partitions(self) -> list[str]:
        """Distinct partition values — metadata-only on the hive layout
        (directory listing), like Iceberg's partitions metadata table."""
        prefix = f"{self.partition_col}="
        return sorted(
            d[len(prefix):]
            for d in list_names(self.spark, self.path)
            if d.startswith(prefix)
        )


def list_names(spark: SparkSession, path: str, *, recursive: bool = False) -> Iterator[str]:
    """Names of the entries under ``path``: its direct children, or with
    ``recursive`` every file below it. Listed through the Hadoop
    FileSystem of the path's scheme (local, ``file:``, ``hdfs:``,
    ``s3a:``, ...) on the driver, so probing runs no Spark job. Nothing
    is yielded when ``path`` does not exist; a scheme with no FileSystem
    on the classpath raises rather than reading as absent, so a remote
    table can never silently look empty."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return
    if recursive:
        it = fs.listFiles(p, True)
        while it.hasNext():
            yield it.next().getPath().getName()
    else:
        for st in fs.listStatus(p):
            yield st.getPath().getName()


# ---------------------------------------------------------------------------
# Typed ingest with reference-parity coercion semantics
# ---------------------------------------------------------------------------


def normalize_sentinels(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Rewrite the reference's string NaN sentinels to true nulls
    (XCopySchemaTransformer.py:55-63): "NaN", "nan", " ", "" -> null."""
    cols = columns or [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.when(F.col(c).isin(*NAN_SENTINELS), None).otherwise(F.col(c))
        )
    return out


def coerce_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Null-on-failure cast of every column to its declared type — the
    engine-side analog of the reference's ``errors="coerce"`` coercion
    (XCopySchemaTransformer.py:65-98). try_cast never throws; malformed
    values surface as nulls for the completeness checks to flag."""
    out = df
    for field in schema.fields:
        if field.name in df.columns:
            out = out.withColumn(
                field.name, F.col(field.name).try_cast(field.dataType)
            )
    return out.select(*[f.name for f in schema.fields if f.name in df.columns])


def read_csv_typed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
) -> DataFrame:
    """CSV scan (S1 analog) read as strings, sentinel-normalized, then
    coerced null-on-failure to the declared schema."""
    raw = spark.read.csv(path, header=header, inferSchema=False)
    return coerce_to_schema(normalize_sentinels(raw), schema)


def read_json_typed(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    raw = spark.read.json(path)
    return coerce_to_schema(normalize_sentinels(raw), schema)
