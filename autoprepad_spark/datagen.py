"""Deterministic synthetic token-table generator (the experiment-harness
analog: /root/reference/pipelines/experiment/experiment.py:120-204 injects
labeled anomalies into test data; we inject known constraint violations).

Generation is DISTRIBUTED and PARALLELISM-INDEPENDENT: rows are produced in
fixed-size chunks via mapInPandas over a chunk-id DataFrame, and every
chunk's RNG is seeded by (seed, chunk_id). The same (seed, n_rows) therefore
yields byte-identical tables at local[8] and local[32] — the property the
north rule's "identical verdicts at N and 4N" proof rests on.

Violations are injected by global row index (deterministic), and partition
"p-000" is kept fully clean so tests can assert one all-pass partition.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from autoprepad_spark.schema import TOKENS_SCHEMA, SOURCE_DIM_SCHEMA

CHUNK_ROWS = 20_000
VOCAB_SIZE = 50_257

#: allowed sources with Zipf-ish weights — "web" is the hot key that
#: motivates salting / AQE skew handling.
SOURCES = ["web", "books", "code", "wiki", "news", "papers", "forums", "legal"]
SOURCE_WEIGHTS = np.array([0.55, 0.15, 0.10, 0.08, 0.05, 0.04, 0.02, 0.01])
#: per-source lognormal mean of n_tok (so distributions differ by source)
SOURCE_LOGMEAN = {
    "web": 4.5, "books": 6.0, "code": 5.2, "wiki": 5.0,
    "news": 4.8, "papers": 5.8, "forums": 4.0, "legal": 5.5,
}
UNKNOWN_SOURCE = "__unknown__"

# Violation injection cadence (by global row index; partition p-000 exempt).
DUP_DOC_MOD = 1000, 7        # duplicate doc_id of row i-1
NULL_DOC_MOD = 2000, 13      # null doc_id
LEN_MISMATCH_MOD = 1500, 11  # n_tok != size(tokens)
TOKEN_OOB_MOD = 1750, 3      # first token id out of vocab
BAD_SOURCE_MOD = 1250, 19    # source not in dim table
NTOK_OUTLIER_MOD = 3000, 23  # extreme sequence length (Tukey/MAD must flag)
EMPTY_MOD = 2500, 29         # empty token array


def _gen_chunk(
    chunk_id: int,
    n_rows: int,
    seed: int,
    n_parts: int,
    max_len: int,
    inject: bool,
    drift_source: str | None,
    drift_shift: float,
) -> pd.DataFrame:
    lo = chunk_id * CHUNK_ROWS
    hi = min(n_rows, lo + CHUNK_ROWS)
    if hi <= lo:
        return pd.DataFrame(columns=["doc_id", "tokens", "n_tok", "source", "part"])
    n = hi - lo
    rng = np.random.default_rng(np.random.SeedSequence([seed, chunk_id]))
    idx = np.arange(lo, hi, dtype=np.int64)
    parts = idx % n_parts

    src_idx = rng.choice(len(SOURCES), size=n, p=SOURCE_WEIGHTS / SOURCE_WEIGHTS.sum())
    sources = np.array(SOURCES, dtype=object)[src_idx]

    logmeans = np.array([SOURCE_LOGMEAN[s] for s in sources])
    if drift_source is not None:
        logmeans = np.where(sources == drift_source, logmeans + drift_shift, logmeans)
    lengths = np.clip(rng.lognormal(mean=logmeans, sigma=0.6).astype(np.int64), 1, max_len)

    doc_ids = np.array([f"doc-{i:012d}" for i in idx], dtype=object)
    n_tok = lengths.copy()

    clean = parts == 0  # p-000 stays violation-free
    if inject:
        hit = lambda mod, r: (idx % mod == r) & ~clean  # noqa: E731
        dup = hit(*DUP_DOC_MOD) & (idx > 0)
        doc_ids[dup] = [f"doc-{i - 1:012d}" for i in idx[dup]]
        doc_ids[hit(*NULL_DOC_MOD)] = None
        n_tok[hit(*LEN_MISMATCH_MOD)] += 3
        sources[hit(*BAD_SOURCE_MOD)] = UNKNOWN_SOURCE
        lengths[hit(*NTOK_OUTLIER_MOD)] = max_len * 6
        n_tok[hit(*NTOK_OUTLIER_MOD)] = max_len * 6
        lengths[hit(*EMPTY_MOD)] = 0
        n_tok[hit(*EMPTY_MOD)] = 0

    flat = rng.integers(0, VOCAB_SIZE, size=int(lengths.sum()), dtype=np.int32)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    tokens = [flat[offsets[i]: offsets[i + 1]] for i in range(n)]
    if inject:
        oob = (idx % TOKEN_OOB_MOD[0] == TOKEN_OOB_MOD[1]) & ~clean & (lengths > 0)
        for i in np.nonzero(oob)[0]:
            tokens[i] = tokens[i].copy()
            tokens[i][0] = VOCAB_SIZE + 100

    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "tokens": tokens,
            "n_tok": n_tok.astype(np.int32),
            "source": sources,
            "part": np.array([f"p-{p:03d}" for p in parts], dtype=object),
        }
    )


def generate_tokens(
    spark: SparkSession,
    n_rows: int,
    *,
    seed: int = 42,
    n_parts: int = 16,
    max_len: int = 512,
    inject_violations: bool = True,
    drift_source: str | None = None,
    drift_shift: float = 1.0,
    num_tasks: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation of the north-rule token table."""
    n_chunks = (n_rows + CHUNK_ROWS - 1) // CHUNK_ROWS
    num_tasks = num_tasks or min(n_chunks, spark.sparkContext.defaultParallelism)
    chunks = spark.range(0, n_chunks, 1, num_tasks)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for cid in b["id"].tolist():
                yield _gen_chunk(
                    int(cid), n_rows, seed, n_parts, max_len,
                    inject_violations, drift_source, drift_shift,
                )

    return chunks.mapInPandas(gen, schema=TOKENS_SCHEMA)


def source_dim(spark: SparkSession) -> DataFrame:
    """Allowed-dimension table (broadcast side of the referential check)."""
    rows = [(s, True) for s in SOURCES]
    return spark.createDataFrame(rows, schema=SOURCE_DIM_SCHEMA)


def write_tokens(df: DataFrame, path: str) -> None:
    """Persist partitioned by `part` — the sandbox stand-in for an Iceberg
    identity-partitioned table; partition pruning works the same way."""
    df.write.mode("overwrite").partitionBy("part").parquet(path)
