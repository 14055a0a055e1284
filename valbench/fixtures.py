"""Benchmark inputs, made from the seed during set-up and never timed.

Every table comes from ``datagen.generate_tokens(seed=...)`` and is
rebuilt in the run's own directory on every run, never memoized: the
session then does the same set-up work, and reaches the timed iterations
as warm, whether or not the seed ran before. Reference output hashes
(``hash_book``) are what persists between runs of one seed.

Expected outputs are closed-form: datagen injects violations by global
row index with fixed moduli, partition ``p-000`` exempt, so the hard-check
violation count of every (check, partition) follows from the row range.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from autoprepad_spark import datagen as D
from autoprepad_spark.operators.drift import ntok_histogram
from autoprepad_spark.plans.checkpoint import CheckpointTable

N_PARTS = 32
#: partitions pre-marked done in the resume checkpoint (the rest remain)
DONE_PARTS = 28
RUN_ID = "bench"
#: every row outside p-000 whose doc_id number is HOT_MOD[1] modulo
#: HOT_MOD[0] (~1% of rows) is rewritten to this one shared doc_id
HOT_DOC = "doc-hot"
HOT_MOD = (97, 5)
#: rows of the drift baseline and of the stream's training table
SMALL_ROWS = 20_000
STREAM_FILE_ROWS = 5_000
STREAM_FILES = 4


def part_name(p: int) -> str:
    return f"p-{p:03d}"


def expected_counts(lo: int, hi: int, *, hot: bool = False) -> dict[str, np.ndarray]:
    """Per-partition violation counts of every hard check
    (``verdicts.HARD_CHECKS``) on datagen rows [lo, hi).

    Mirrors datagen's injection order: a row that is both a length
    mismatch and an outlier or empty row ends consistent, and an empty
    row carries no out-of-vocabulary token. Uniqueness is decided over
    the range alone, so it is exact only for a whole table (lo == 0).
    """
    i = np.arange(lo, hi, dtype=np.int64)
    part = i % N_PARTS
    dirty = part != 0

    def hit(mod):
        return (i % mod[0] == mod[1]) & dirty

    null = hit(D.NULL_DOC_MOD)
    outlier, empty = hit(D.NTOK_OUTLIER_MOD), hit(D.EMPTY_MOD)
    masks = {
        "null_doc_id": null,
        "len_mismatch": hit(D.LEN_MISMATCH_MOD) & ~outlier & ~empty,
        "token_oob": hit(D.TOKEN_OOB_MOD) & ~empty,
        "empty_tokens": empty,
        "ref_source": hit(D.BAD_SOURCE_MOD),
    }
    key = np.where(hit(D.DUP_DOC_MOD) & (i > 0), i - 1, i)
    if hot:
        key = np.where(dirty & ~null & (key % HOT_MOD[0] == HOT_MOD[1]), -1, key)
    _, inverse, counts = np.unique(key[~null], return_inverse=True, return_counts=True)
    dup = np.zeros(len(i), dtype=bool)
    dup[~null] = counts[inverse] > 1
    masks["unique_doc_id"] = dup
    return {k: np.bincount(part[m], minlength=N_PARTS) for k, m in masks.items()}


def rows_per_part(rows: int) -> np.ndarray:
    return np.bincount(np.arange(rows) % N_PARTS, minlength=N_PARTS)


def hash_book(work: str, name: str) -> str:
    """Path of the reference-hash file of one workload and input."""
    root = os.path.join(work, "hashes")
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, f"{name}.json")


def token_table(spark: SparkSession, path: str, seed: int, rows: int, *, hot: bool) -> int:
    """Writes the identity-partitioned token table to ``path``; returns
    its token total."""
    df = D.generate_tokens(spark, rows, seed=seed, n_parts=N_PARTS)
    if hot:
        num = F.substring("doc_id", 5, 12).cast("long")
        rewrite = (
            F.col("doc_id").isNotNull()
            & (F.col("part") != part_name(0))
            & (num % HOT_MOD[0] == HOT_MOD[1])
        )
        df = df.withColumn("doc_id", F.when(rewrite, F.lit(HOT_DOC)).otherwise(F.col("doc_id")))
    obs = Observation()
    D.write_tokens(df.observe(obs, F.sum(F.size("tokens")).alias("tokens")), path)
    return int(obs.get["tokens"])


def stream_pool(spark: SparkSession, path: str, seed: int) -> dict:
    """STREAM_FILES parquet files of STREAM_FILE_ROWS rows each under
    ``path/pool``, in row order: file k holds datagen rows
    [k*STREAM_FILE_ROWS, (k+1)*...). Returns the file paths and their token totals."""
    out = os.path.join(path, "pool")
    # one task writes the chunks in row order; maxRecordsPerFile cuts
    # them into equal files whose names sort in that order
    (
        D.generate_tokens(spark, STREAM_FILE_ROWS * STREAM_FILES, seed=seed,
                          n_parts=N_PARTS, num_tasks=1)
        .write.option("maxRecordsPerFile", STREAM_FILE_ROWS)
        .parquet(out)
    )
    files = sorted(os.path.basename(f) for f in glob.glob(os.path.join(out, "*.parquet")))
    if len(files) != STREAM_FILES:
        raise RuntimeError(f"stream pool wrote {len(files)} files, want {STREAM_FILES}")
    paths = [os.path.join(out, f) for f in files]
    # counted in-process: a Spark job here would cost seconds of cold
    # planning per run for four numbers
    tokens = [
        pc.sum(pc.list_value_length(pq.read_table(p, columns=["tokens"])["tokens"])).as_py()
        for p in paths
    ]
    return {"files": paths, "tokens": tokens}


def drift_baseline(spark: SparkSession, seed: int, path: str) -> None:
    """n_tok histogram of a table whose "web" source drifted upward."""
    drifted = D.generate_tokens(spark, SMALL_ROWS, seed=seed + 1, n_parts=N_PARTS,
                                drift_source="web")
    ntok_histogram(drifted).write.mode("overwrite").parquet(path)


def training_table(spark: SparkSession, seed: int, path: str) -> DataFrame:
    D.generate_tokens(spark, SMALL_ROWS, seed=seed + 2, n_parts=N_PARTS).write.mode(
        "overwrite").parquet(path)
    return spark.read.parquet(path)


def source_dim(spark: SparkSession, path: str) -> str:
    """The allowed-source dimension table; the same for every seed."""
    D.source_dim(spark).write.parquet(path)
    return path


def seed_checkpoint(spark: SparkSession, path: str, rows: int) -> list[str]:
    """Checkpoint with the first DONE_PARTS partitions marked done for
    RUN_ID; returns the partitions that remain."""
    counts = rows_per_part(rows)
    done = [(part_name(p), int(counts[p]), 0, 0.0) for p in range(DONE_PARTS)]
    shutil.rmtree(path, ignore_errors=True)
    CheckpointTable(spark, path).mark(RUN_ID, done)
    return [part_name(p) for p in range(DONE_PARTS, N_PARTS)]
