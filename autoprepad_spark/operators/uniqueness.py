"""Uniqueness check via salted two-phase aggregation.

No reference counterpart (the nearest analog is the Spearman duplicate-
column detector, /root/reference/pipelines/preprocessing/statistical/
SpearmanCheck.py:23-34, which finds duplicate *columns*; the north rule
requires duplicate *keys* on doc_id at 10^12 rows).

Scale design: a straight groupBy(doc_id).count() is usually fine because
hash aggregation does map-side partial combine — but if one doc_id is
pathologically hot (billions of duplicates of a single id), all its
partials still meet in one reducer. The salted two-phase splits each key
across SALTS reducers first, then merges the per-salt subtotals. The salt
is DERIVED FROM ROW CONTENT (hash of the tokens payload), never from
spark_partition_id or rand(), so results are bit-identical at any
parallelism — required for the N vs 4N identical-verdict proof.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_SALTS = 16


def duplicate_keys(
    df: DataFrame,
    key: str = "doc_id",
    *,
    salts: int = DEFAULT_SALTS,
    salted: bool = True,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Keys appearing more than once: (key, dup_count).

    Null keys are excluded — nullness is the completeness check's job.
    salt_cols: content columns to derive the deterministic salt from;
    defaults to every non-key column.
    """
    keyed = df.filter(F.col(key).isNotNull())
    if salted:
        salt_cols = salt_cols or [c for c in df.columns if c != key]
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salts))
        phase1 = keyed.groupBy(F.col(key), salt.alias("_salt")).agg(
            F.count(F.lit(1)).alias("_cnt")
        )
        counts = phase1.groupBy(key).agg(F.sum("_cnt").alias("dup_count"))
    else:
        counts = keyed.groupBy(key).agg(F.count(F.lit(1)).alias("dup_count"))
    return counts.filter(F.col("dup_count") > 1)


def duplicate_rows(
    df: DataFrame,
    key: str = "doc_id",
    *,
    salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """All rows participating in a duplicated key, with the partition
    column preserved so verdicts can attribute violations per partition.

    The candidate phase groups by ``xxhash64(key)`` — an 8-byte shuffle
    key instead of the raw key string (~3.5x less shuffle volume for
    doc_id-sized keys), over a scan pruned to the key column alone.
    Hash-colliding keys that are not real duplicates survive as
    false-positive candidates, so the (tiny) candidate subset is
    re-grouped by the EXACT key to confirm — results are exact, the hash
    only routes the heavy shuffle. The dup-key set is tiny relative to
    the table (violation rate <<1%), so both join-backs are broadcast
    semi joins at any scale where duplicates fit the broadcast
    threshold; otherwise AQE picks a shuffled semi join.
    """
    kh = F.xxhash64(F.col(key)).alias("_kh")
    keyed = df.filter(F.col(key).isNotNull())
    # content-derived salt keeps a pathologically hot key from
    # funneling into one reducer while staying parallelism-independent
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salts))
    phase1 = (
        keyed.select(kh, salt.alias("_salt"))
        .groupBy("_kh", "_salt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    cand = (
        phase1.groupBy("_kh")
        .agg(F.sum("_cnt").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_kh")
    )
    cand_rows = keyed.withColumn("_kh", F.xxhash64(F.col(key))).join(
        F.broadcast(cand), "_kh", "left_semi"
    )
    true_dups = (
        cand_rows.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select(key)
    )
    return cand_rows.join(F.broadcast(true_dups), key, "left_semi").drop("_kh")
