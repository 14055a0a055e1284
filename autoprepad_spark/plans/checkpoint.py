"""Per-partition lineage / metrics checkpoint table — resumable runs.

The reference persists per-run metrics as append-mode CSVs
(/root/reference/pipelines/experiment/experiment.py:494-502,533-539) and
joblib-dumps fitted models (pipelines/runs.py:164-168). The engine's
resumability is table-native instead: every completed partition appends a
(run_id, part, status, n_rows, n_violations, wall_sec) row; a resumed run
anti-joins the completed set and processes only the remainder.

The sandbox backend is an append-only parquet directory (each mark() call
writes a new file — the same append semantics an Iceberg table gives via
snapshot appends; swap `CheckpointTable` for a `df.writeTo(...).append()`
on a real catalog). Idempotence: completed_parts() de-duplicates on
(run_id, part), so a re-marked partition is harmless.

A fresh run costs no Spark job here: the table's existence is probed
through the Hadoop FileSystem API, a missing table has no completed
partitions, and mark() builds its few rows in the JVM
(session.local_frame, one partition: one task, one file) instead of
from a Python list, which would start a Python worker for the write.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from autoprepad_spark.schema import CHECKPOINT_SCHEMA
from autoprepad_spark.session import local_frame
from autoprepad_spark.sources.tables import list_names


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return any(
            f.endswith(".parquet")
            for f in list_names(self.spark, self.path, recursive=True)
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], schema=CHECKPOINT_SCHEMA)
        return self.spark.read.schema(CHECKPOINT_SCHEMA).parquet(self.path)

    def completed_parts(self, run_id: str) -> list[str]:
        if not self._exists():
            return []
        rows = (
            self.read()
            .filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("part")
            .distinct()
            .collect()
        )
        return sorted(r["part"] for r in rows)

    def mark(
        self,
        run_id: str,
        parts: list[tuple[str, int, int, float]],
        status: str = "done",
    ) -> None:
        """parts: [(part, n_rows, n_violations, wall_sec), ...] — one append."""
        rows = [(run_id, p, status, int(n), int(v), float(w)) for p, n, v, w in parts]
        pdf = pd.DataFrame(rows, columns=CHECKPOINT_SCHEMA.fieldNames())
        df = local_frame(self.spark, pdf, CHECKPOINT_SCHEMA)
        df.write.mode("append").parquet(self.path)

    def remaining(self, df: DataFrame, run_id: str) -> DataFrame:
        """Filter the fact table to partitions not yet completed.

        Expressed as a partition-column IN-filter (not an anti-join on
        rows) so Iceberg/parquet PARTITION PRUNING skips completed
        partitions' files entirely — resume costs no scan of done work.
        """
        done = self.completed_parts(run_id)
        if not done:
            return df
        return df.filter(~F.col("part").isin(done))
