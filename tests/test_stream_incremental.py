"""Streaming shard-vs-history dedup (a dedup-only ``stream_pipeline``)
with long ids: two shards arrive as separate micro-batch rounds;
results must equal the batch incremental operators, and index growth
must make batch-2 drops depend on batch-1 keeps."""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from autoprepad_spark.operators import incremental as INC
from autoprepad_spark.streaming.pipeline import DedupStage, seed_index, stream_pipeline

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _mk(i, n=40):
    rng = np.random.default_rng([13, i])
    return " ".join(f"w{v}" for v in rng.integers(0, 500, n))


HIST = [(i, _mk(i)) for i in range(50)]
SHARD1 = (
    [(200, HIST[3][1])]                       # exact dup of history
    + [(201, _mk(1001)), (202, _mk(1001))]    # intra-batch exact pair
    + [(203, _mk(1002))]                      # fresh (near-dupped later)
)
SHARD2 = (
    [(300, _mk(1001))]                        # exact dup of batch-1 KEPT doc
    + [(301, _mk(1002) + " tail")]            # near dup of batch-1 keep 203
    + [(302, _mk(2000))]                      # fresh
)


def _paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("inp", "idx", "kept", "drop", "ckpt")}


def _run(spark, p):
    q = stream_pipeline(
        spark,
        p["inp"],
        schema=SCHEMA,
        checkpoint_dir=p["ckpt"],
        dedup=DedupStage(index_path=p["idx"], kept_path=p["kept"],
                         dropped_path=p["drop"], threshold=0.8),
    )
    q.awaitTermination(120)


def test_two_shard_rounds_match_batch_semantics(spark, tmp_path):
    p = _paths(tmp_path)
    seed_index(INC.build_dedup_index(spark.createDataFrame(HIST, SCHEMA)), p["idx"])

    spark.createDataFrame(SHARD1, SCHEMA).coalesce(1).write.mode("append").parquet(
        p["inp"]
    )
    _run(spark, p)
    dropped1 = {
        r["doc_id"]: r["reason"]
        for r in spark.read.parquet(p["drop"]).collect()
    }
    # 200 exact-vs-history; exactly one of the intra-batch pair dropped
    # (keep-first: 201 kept, 202 dropped)
    assert dropped1 == {200: "exact", 202: "exact_in_batch"}
    kept1 = {r["doc_id"] for r in spark.read.parquet(p["kept"]).collect()}
    assert kept1 == {201, 203}

    spark.createDataFrame(SHARD2, SCHEMA).coalesce(1).write.mode("append").parquet(
        p["inp"]
    )
    _run(spark, p)
    dropped = {
        r["doc_id"]: (r["reason"], r["matched_id"])
        for r in spark.read.parquet(p["drop"]).collect()
        if r["doc_id"] >= 300
    }
    # 300 collides with 201's content (accepted last round -> in index);
    # 301 is a near dup of 203 (accepted last round)
    assert dropped[300][0] == "exact"
    assert dropped[301] == ("near", 203)
    assert 302 not in dropped
    kept = {r["doc_id"] for r in spark.read.parquet(p["kept"]).collect()}
    assert kept == {201, 203, 302}

    # index now = seed + every kept doc, nothing else
    idx_ids = {r["doc_id"] for r in spark.read.parquet(p["idx"]).collect()}
    assert idx_ids == {i for i, _ in HIST} | kept

    # index rows for kept docs are EXACTLY build_dedup_index rows
    # (zero-recompute append preserved values through the stream)
    kept_rows = sorted(
        (r["doc_id"], r["content_hash"], tuple(r["sig"]))
        for r in spark.read.parquet(p["idx"]).collect()
        if r["doc_id"] >= 200
    )
    all_docs = spark.createDataFrame(
        [t for t in SHARD1 + SHARD2 if t[0] in kept], SCHEMA
    )
    want = sorted(
        (r["doc_id"], r["content_hash"], tuple(r["sig"]))
        for r in INC.build_dedup_index(all_docs).collect()
    )
    assert kept_rows == want
