"""Incremental (shard-at-a-time) operators: dedup against a persisted
sketch index, and mergeable shard profiles for fit-without-rescan.

The production shape of dedup at 100 TB is NOT one giant self-join:
corpora grow by shards (a daily crawl, a new dump), and each shard must
dedup against everything already accepted WITHOUT re-reading, let alone
re-shingling, the historical corpus. The standard answer (CCNet's
hashed-shard join, Dolma's bloom pass, SlimPajama/BigCode's MinHash
index) is a persisted per-doc SKETCH index:

    index row = (doc_id, content_hash, sig)
      content_hash : xxhash64 of normalized text  -> exact dups
      sig          : the num_hashes MinHash values -> near dups

Everything derives from the index at query time: LSH band buckets are a
pure expression over ``sig`` (the SAME banding as minhash_candidates,
so an index built today keeps working as shards arrive), and near-dup
verification uses the signature-estimated Jaccard (matching-component
fraction — the textbook unbiased estimator, E[est] = J, sd ~=
sqrt(J(1-J)/num_hashes)), so the historical TEXT is never touched.

At 100 TB: the index is ~(8 + 8 + 8*num_hashes) bytes/doc (~280 B at 32
hashes — 28 TB per 100 B docs, vs re-shingling 100 TB of text per
shard); the exact pass is one hash anti-join on 8-byte keys; the band
join is an equi-join on (band, bucket) with the same oversized-bucket
cap as minhash_candidates; signatures join back only for docs that
appear in some candidate pair (the verify_pairs_jaccard prune argument
applies identically). The shard, not the history, is the driving side
of every join.

Reference parity: AutoPrepAD has no incremental facility (its nearest
notion is fit-once/predict-many, AutoPrepAD.py fit/predict); this is
part of the training-data-pipeline extension, alongside dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from autoprepad_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    minhash_signatures,
    normalize_text,
)

#: index column names — the stable on-disk contract
INDEX_COLS = ("doc_id", "content_hash", "sig")


def content_hash(text_col: str = "text") -> Column:
    """64-bit hash of normalized text — the exact-dup key (normalization
    mirrors exact_duplicates: same text modulo case/whitespace collapses
    to the same key)."""
    return F.xxhash64(normalize_text(text_col))


def build_dedup_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, content_hash, sig) — one row per doc, ready to persist.

    One pass over the corpus: the shingle explode feeding the minhash
    aggregation is the only heavy stage, and it happens ONCE per doc
    ever — every future shard joins against this frame instead.

    Storage layout at scale: BUCKET the persisted index BY
    ``content_hash`` (e.g. ``.write.bucketBy(n, "content_hash")``) —
    the exact pass is an equi-join on that column, so a bucketed
    history side joins shuffle-free (storage-partitioned join); only
    the small shard side is exchanged. The near-dup band join keys on
    derived (band, bucket) columns, so it always exchanges — but only
    |history| * bands rows of three longs, never text or signatures.

    Null-text docs: ``normalize_text(NULL)`` is NULL, so a null-text
    doc contributes no shingles and no signature (same as the batch
    operators in dedup.py); its content_hash degenerates to the
    constant xxhash64 seed, making all null-text docs mutual exact
    duplicates. Filter nulls out (the validation suite's null checks
    exist for this) before indexing.
    """
    sigs = minhash_signatures(
        docs,
        text_col=text_col,
        id_col=id_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        seed=seed,
    )
    hashes = docs.select(
        F.col(id_col).alias("doc_id"), content_hash(text_col).alias("content_hash")
    )
    # join (not a wide recompute): sigs already shuffled by id; the
    # hash side is narrow (id, 8B) and co-keyed
    return hashes.join(sigs.withColumnRenamed(id_col, "doc_id"), "doc_id")


def write_bucketed_index(
    index: DataFrame,
    table: str,
    *,
    buckets: int = 256,
    bands: int = 8,
    num_hashes: int = 32,
    path: str | None = None,
) -> None:
    """Persist the sketch index as TWO bucketed catalog tables — the
    storage layout that makes every history-side join in the shard
    pass exchange-free WITHOUT the broadcast prefilter:

      {table}        (doc_id, content_hash, sig)  bucketed by content_hash
      {table}_bands  (doc_id, band, bucket)       bucketed by (band, bucket)

    A scan of a table bucketed on the join keys already satisfies the
    join's required distribution, so the sort-merge join reads the
    history in place and only the (small) shard side is exchanged —
    `Bucketed: true` and zero Exchange above the history scan in the
    physical plan (asserted by tests). The banded table additionally
    makes the oversized-bucket count and the bucket-cap join
    exchange-free, because groupBy(band, bucket) is satisfied by the
    same partitioning. Prefer this over ``prefilter_history`` when the
    index lives in a real catalog (Hive/Iceberg/Glue) and shards are
    large or frequent: the prefilter broadcasts |shard| keys to every
    executor per shard, the bucketed layout pays nothing per shard.
    ``buckets`` should put one bucket's rows well inside an executor's
    memory at full history size (10^12 docs x 272 B of key+sig →
    O(10^4) buckets; the default suits sandbox scale). ``path`` makes
    the tables external (tests point it at a tmpdir); the in-memory
    session catalog is process-local — production uses a persistent
    metastore, same code path.
    """
    w = index.write.mode("overwrite").format("parquet")
    if path:
        w = w.option("path", f"{path}/{table}")
    w.bucketBy(buckets, "content_hash").sortBy("content_hash").saveAsTable(table)
    banded = _band_buckets(
        index.select(F.col("doc_id"), F.col("sig")), "doc_id", bands, num_hashes
    ).select(F.col("_id").alias("doc_id"), "band", "bucket")
    wb = banded.write.mode("overwrite").format("parquet")
    if path:
        wb = wb.option("path", f"{path}/{table}_bands")
    wb.bucketBy(buckets, "band", "bucket").sortBy("band", "bucket").saveAsTable(
        f"{table}_bands"
    )


def read_bucketed_index(spark, table: str) -> tuple[DataFrame, DataFrame]:
    """(index, banded_index) frames for the pair written by
    write_bucketed_index — pass them to dedup_against_index /
    run_shard_dedup as (index=..., banded_index=...) with
    ``prefilter_history=False``."""
    return spark.table(table), spark.table(f"{table}_bands")


def _band_buckets(
    sigs: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """(_id, band, bucket) — the SAME bucket function as
    minhash_candidates (band-seeded xxhash64 over the band's signature
    longs), factored over a (id, sig) frame."""
    rows_per_band = num_hashes // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ],
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col).alias("_id"), F.explode(band_cols).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """Matching-component fraction of two MinHash signatures — the
    unbiased Jaccard estimator (Broder 1997)."""
    matches = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return matches / F.size(sig_a).cast("double")


def split_exact_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefilter_history: bool = True,
    history_bloom: bytes | None = None,
    bloom_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The exact pass alone: ``(fresh, exact_dropped)``.

    fresh = new_docs + a ``content_hash`` column, minus rows whose hash
    is already indexed (one anti-join on 8-byte keys); exact_dropped =
    the audit rows for the removed ones. Exposed separately so callers
    that need BOTH kept and dropped outputs can persist the (shard-
    bounded) intermediates between the passes — see run_shard_dedup.

    ``prefilter_history`` (the shard-driving-side trick): a plain
    ``shard ANTI JOIN index`` cannot broadcast — Spark builds the RIGHT
    side of a left-anti hash join, and the right side is the (huge)
    history — so an unbucketed index gets FULLY SHUFFLED on every
    shard: O(|history|) exchanged bytes to answer an O(|shard|)
    question. The prefilter instead semi-joins the history against a
    BROADCAST of the shard's distinct hashes first: the history is only
    SCANNED (the semi join is map-side against the broadcast, no
    exchange), the survivors are at most |shard| rows, and both the
    semi and anti joins against the shard then broadcast naturally.
    Exchanged bytes drop from O(|history|) to O(|shard|). The broadcast
    is |shard| 8-byte hashes — shards are bounded by contract (a 10M-doc
    shard is ~80 MB); disable for unbounded "shards" or when the index
    is bucketed by content_hash (then the storage-partitioned join is
    already exchange-free and strictly better).
    """
    new_hashed = new_docs.withColumn("content_hash", content_hash(text_col))
    definitely_fresh = None
    if history_bloom is not None:
        # Dolma-style Bloom gate (functions/sketches.py): rows whose
        # content hash FAILS the history filter are DEFINITELY new —
        # no false negatives by construction — so they bypass the join
        # machinery entirely; only possible members (true dups + the
        # filter's FPR share of the shard) pay it. The predicate is a
        # scan-level codegen expression over one broadcast-as-literal
        # bitmap, so at a low dup rate the exact pass costs ~nothing
        # beyond the shard scan. Semantics are IDENTICAL with or
        # without the bloom (pytest-proven) — it only routes rows.
        from autoprepad_spark.functions.sketches import bloom_contains

        # k travels IN the filter bytes (APB1 header) since r4; passing
        # bloom_k is an optional cross-check that raises on mismatch
        maybe = bloom_contains("content_hash", history_bloom, k=bloom_k)
        definitely_fresh = new_hashed.filter(~maybe)
        new_hashed = new_hashed.filter(maybe)
    # no distinct on the HISTORY side ever: semi/anti semantics ignore
    # build-side duplicates, and a distinct would shuffle the history
    idx_hashes = index.select("content_hash")
    if prefilter_history:
        shard_hashes = F.broadcast(new_hashed.select("content_hash").distinct())
        # the survivors are <= |shard| 8-byte hashes (same boundedness
        # contract as the shard_hashes broadcast above), so hint them
        # broadcast STATICALLY: without the hint the planner stats say
        # "unknown", the semi/anti joins below plan as sort-merge, and
        # the shard's full text payload gets shuffle-WRITTEN before AQE
        # can flip the join (AQE re-plans after the map stage has
        # already paid the exchange). Measured on a 1M-doc shard vs
        # 3M-doc history: the hints cut total shuffle writes ~4x.
        idx_hashes = F.broadcast(
            idx_hashes.join(shard_hashes, "content_hash", "left_semi")
        )
    exact_dropped = new_hashed.join(idx_hashes, "content_hash", "left_semi").select(
        F.col(id_col).alias("doc_id"),
        F.lit("exact").alias("reason"),
        # typed as the id column: a later union with the near pass's
        # matched_id (real historical ids) must not coerce string ids
        # through BIGINT
        F.lit(None).cast(new_hashed.schema[id_col].dataType).alias("matched_id"),
        F.lit(None).cast("double").alias("est_jaccard"),
    )
    fresh = new_hashed.join(idx_hashes, "content_hash", "left_anti")
    if definitely_fresh is not None:
        fresh = fresh.unionByName(definitely_fresh)
    return fresh, exact_dropped


def near_dedup_against_index(
    fresh: DataFrame,
    index: DataFrame,
    *,
    sigs_new: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    prefilter_history: bool = True,
    banded_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The near pass alone over exact-surviving docs:
    ``(kept, near_dropped)``.

    ``banded_index``: a precomputed (doc_id, band, bucket) frame — pass
    the `{table}_bands` table from write_bucketed_index (with
    ``prefilter_history=False``) and the band join, bucket-cap count,
    and cap join all read the history in place with no exchange.

    ``sigs_new``: precomputed ``minhash_signatures(fresh, ...)`` —
    pass a CACHED frame when you will materialize both outputs, so the
    signature computation (the shard's heaviest map work) runs once
    instead of once per output. Parameters must match the index's hash
    family; see dedup_against_index.

    ``prefilter_history``: same shard-driving-side trick as
    split_exact_against_index, applied to the band join — the history's
    |history| x bands bucket rows are semi-joined map-side against a
    broadcast of the shard's distinct (band, bucket) keys before the
    oversized-bucket count and the candidate equi-join, so the history
    is scanned, never exchanged. The bucket-cap counts are unchanged
    for every surviving bucket (the semi join keeps ALL history rows of
    a kept bucket), and dropped buckets produce no candidates either
    way — results are identical, proven by pytest. NOTE: the broadcast
    subquery re-derives ``sigs_new``'s band keys; pass a cached
    ``sigs_new`` (run_shard_dedup does) so that costs one in-memory
    scan, not a recompute.
    """
    if sigs_new is None:
        sigs_new = minhash_signatures(
            fresh,
            text_col=text_col,
            id_col=id_col,
            k_shingle=k_shingle,
            num_hashes=num_hashes,
            seed=seed,
        )
    b_new = _band_buckets(sigs_new, id_col, bands, num_hashes)
    if banded_index is not None:
        b_idx = banded_index.select(
            F.col("doc_id").alias("_id"), "band", "bucket"
        )
    else:
        b_idx = _band_buckets(
            index.select(F.col("doc_id"), F.col("sig")), "doc_id", bands, num_hashes
        )
    if prefilter_history:
        shard_buckets = F.broadcast(b_new.select("band", "bucket").distinct())
        b_idx = b_idx.join(shard_buckets, ["band", "bucket"], "left_semi")
    if max_bucket_size is not None:
        # cap on the HISTORY side: an oversized historical bucket is a
        # boilerplate cluster; any shard doc landing in it meets the cap
        # count long before it meets every member (same rationale as
        # minhash_candidates). Aggregated counts, no window over history.
        bucket_n = b_idx.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_bn"))
        b_idx = (
            b_idx.join(bucket_n, ["band", "bucket"])
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    cand = (
        b_new.join(b_idx.withColumnRenamed("_id", "_old"), ["band", "bucket"])
        .select(F.col("_id").alias("new_id"), F.col("_old").alias("old_id"))
        .distinct()
    )
    # signatures join back only for pair participants (both sides are
    # candidate-pruned — the verify_pairs_jaccard argument)
    # candidate-id sets are tiny (<= capped candidate pairs) — broadcast
    # them statically so the semi joins never exchange the signature
    # frames (sigs_new is |shard| x 264 B; the index side is the history)
    s_new = sigs_new.select(
        F.col(id_col).alias("new_id"), F.col("sig").alias("sig_new")
    ).join(F.broadcast(cand.select("new_id").distinct()), "new_id", "left_semi")
    s_old = index.select(
        F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old")
    ).join(F.broadcast(cand.select("old_id").distinct()), "old_id", "left_semi")
    scored = (
        cand.join(s_new, "new_id")
        .join(s_old, "old_id")
        .withColumn("est_jaccard", estimated_jaccard("sig_new", "sig_old"))
        .filter(F.col("est_jaccard") >= threshold)
    )
    near_dropped = (
        scored.groupBy("new_id")
        .agg(F.max(F.struct("est_jaccard", F.col("old_id"))).alias("m"))
        .select(
            F.col("new_id").alias("doc_id"),
            F.lit("near").alias("reason"),
            F.col("m.old_id").alias("matched_id"),
            F.round(F.col("m.est_jaccard"), 9).alias("est_jaccard"),
        )
    )
    # near-drop verdicts are bounded by the capped candidate set —
    # broadcast the anti side so `fresh` (full payload) is not exchanged
    kept = fresh.join(
        F.broadcast(near_dropped.select(F.col("doc_id").alias(id_col))),
        id_col,
        "left_anti",
    ).join(sigs_new, id_col)
    return kept, near_dropped


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    prefilter_history: bool = True,
    banded_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new shard against the historical index.

    Returns ``(kept, dropped)``:
      kept    — new_docs rows surviving both passes, plus their
                ``content_hash``/``sig`` columns (exactly the
                build_dedup_index schema + the shard's payload), so
                appending the kept rows' INDEX_COLS to the index is the
                whole index update — no recompute.
      dropped — (doc_id, reason, matched_id, est_jaccard) audit:
                reason 'exact' (content_hash already indexed,
                matched_id/est null — the hash join never sees which
                historical doc, by design: that would widen the join)
                or 'near' (some candidate's estimated Jaccard >=
                threshold; matched_id = the historical doc realizing
                the max estimate).

    Pass ordering matters: exact drops happen FIRST, so near-dup work
    (shingling, banding, the candidate join) runs only on content the
    corpus has genuinely never seen. k_shingle/num_hashes/seed/bands
    must match the values the index was built with (they define the
    hash family; the defaults are build_dedup_index's).

    Intra-shard duplicates are NOT handled here — run the batch
    pipeline (exact_duplicates / minhash_candidates) within the shard
    first; this operator's contract is shard-vs-history only. The
    kept/dropped partition guarantee requires non-null text (a
    null-text doc has no signature and would drop out of ``kept``'s
    signature join — see build_dedup_index's null note).
    """
    fresh, exact_dropped = split_exact_against_index(
        new_docs,
        index,
        text_col=text_col,
        id_col=id_col,
        prefilter_history=prefilter_history,
    )
    kept, near_dropped = near_dedup_against_index(
        fresh,
        index,
        text_col=text_col,
        id_col=id_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        seed=seed,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        prefilter_history=prefilter_history,
        banded_index=banded_index,
    )
    return kept, exact_dropped.unionByName(near_dropped)


def run_shard_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    kept_sink,
    dropped_sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    prefilter_history: bool = True,
    banded_index: DataFrame | None = None,
) -> None:
    """Materialize BOTH shard-dedup outputs with the heavy work running
    once — the production driver around the plan-building operators.

    ``dedup_against_index`` returns two lazy frames whose plans share
    the signature computation and the band join; two independent
    actions would re-run that subtree per output (measured ~2.5x on an
    8M-doc corpus). This driver owns materialization (the repo-wide
    split: operators build plans, drivers own caches): it persists the
    shard signatures (|shard| rows of 264 B) and the near-drop verdicts
    (tiny), writes both sinks, and unpersists. ``kept_sink`` /
    ``dropped_sink`` are callables ``DataFrame -> None`` (e.g.
    ``lambda d: d.write.parquet(...)``).
    """
    from pyspark.storagelevel import StorageLevel

    fresh, exact_dropped = split_exact_against_index(
        new_docs,
        index,
        text_col=text_col,
        id_col=id_col,
        prefilter_history=prefilter_history,
    )
    # shard-bounded (|shard| rows x payload); computing it lazily would
    # re-run the exact pass — including the history-hash scan — once for
    # the signature build and again for the kept materialization
    fresh = fresh.persist(StorageLevel.MEMORY_AND_DISK)
    sigs = minhash_signatures(
        fresh,
        text_col=text_col,
        id_col=id_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        seed=seed,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    kept, near_dropped = near_dedup_against_index(
        fresh,
        index,
        sigs_new=sigs,
        text_col=text_col,
        id_col=id_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        seed=seed,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
        prefilter_history=prefilter_history,
        banded_index=banded_index,
    )
    near_dropped = near_dropped.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        dropped_sink(exact_dropped.unionByName(near_dropped))
        kept_sink(kept)
    finally:
        near_dropped.unpersist()
        sigs.unpersist()
        fresh.unpersist()


def append_to_index(
    index: DataFrame, kept: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The updated index after accepting a shard: union of the old index
    and the kept rows' index columns (already computed by
    dedup_against_index — zero recompute)."""
    return index.select(*INDEX_COLS).unionByName(
        kept.select(
            F.col(id_col).alias("doc_id"), F.col("content_hash"), F.col("sig")
        )
    )


# ---------------------------------------------------------------------------
# Mergeable shard profiles: fit stats without rescanning history
# ---------------------------------------------------------------------------
#
# The engine's entire fit path (fit_robust / impute_median /
# percentile_sweep / drift baselines — functions/stats.py) derives
# from per-column (value, count) histograms. A histogram over a UNION
# of shards is the cell-wise SUM of the shards' histograms, so the
# profile itself is the mergeable sketch: profile each shard once when
# it arrives, persist the (col, v, n) frame (bounded by the value
# domain, not the row count), and merge by groupBy-sum. Fit stats from
# the merged profile are EXACTLY the batch fit over the concatenated
# corpus — no approximation, no re-read. Distinct counts over unbounded
# domains (doc ids, urls) ride along as HLL register frames
# (functions/sketches.py hll_registers/hll_merge), whose register-wise
# max is likewise an exact sketch union.
#
# At 100 TB: each arriving shard is scanned ONCE for (histogram, HLL
# registers, dedup index row) together; corpus-level fit/drift/null
# stats then update by merging kilobyte-to-megabyte sketch frames.

#: shard-profile column contract — ``v`` NULL counts the column's nulls
PROFILE_COLS = ("col", "v", "n")


def quantize(col: str | Column, width: float) -> Column:
    """Bucket a continuous column onto a bounded grid (bucket midpoint,
    so downstream medians/quantiles land inside the data range): the
    entry ticket to the bounded-domain profile contract for genuinely
    continuous columns. Deterministic, null-preserving, and identical
    arithmetic is expressible in any SQL engine for oracles:
    (floor(x / width) + 0.5) * width."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.floor(c.cast("double") / F.lit(float(width))) + F.lit(0.5))
        * F.lit(float(width))
    ).cast("double")


def shard_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """(col, v:double, n:long) value-count histogram over ``cols``,
    INCLUDING one ``v IS NULL`` cell per column carrying its null count
    (unlike the fit-internal histogram, the profile must preserve null
    rates and row counts: sum(n) per col == row count).

    One scan however many columns: the melt explodes to |cols| cells per
    row, and map-side partial aggregation collapses them before the
    shuffle — exchanged bytes are bounded by the value domains. The
    bounded-domain contract is the same as method='hist' fits; profile
    genuinely continuous columns via their own quantize step first.
    """
    pairs = F.explode(
        F.array(
            *[
                F.struct(F.lit(c).alias("c"), F.col(c).cast("double").alias("v"))
                for c in cols
            ]
        )
    )
    return (
        df.select(pairs.alias("p"))
        .select(F.col("p.c").alias("col"), F.col("p.v").alias("v"))
        .groupBy("col", "v")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_profiles(*profiles: DataFrame) -> DataFrame:
    """Cell-wise sum of shard profiles — the exact histogram of the
    shards' union (addition is the histogram's merge operation)."""
    out = profiles[0].select(*PROFILE_COLS)
    for p in profiles[1:]:
        out = out.unionByName(p.select(*PROFILE_COLS))
    return out.groupBy("col", "v").agg(F.sum("n").alias("n"))


def fit_from_profile(profile: DataFrame, cols: list[str] | None = None):
    """{col: RobustStats} from a (merged) profile frame — numerically
    IDENTICAL to fit_robust_multi(method='hist') over the full data,
    because both reduce to _robust_from_hist on the same histogram.

    The collect is guarded like the direct fit's: the MAX_HIST_CELLS
    ceiling rides the collecting action (``LIMIT cap+1``), so the
    profile is aggregated once and never reaches the driver unbounded."""
    from autoprepad_spark.functions.stats import (
        MAX_HIST_CELLS,
        _collect_histograms,
        _robust_from_hist,
    )

    cells = profile.filter(F.col("v").isNotNull()).select(
        F.col("col").alias("c"), "v", "n"
    )
    hists = _collect_histograms(
        cells, cols, MAX_HIST_CELLS,
        "quantize continuous columns before shard_profile",
    )
    return {c: _robust_from_hist(*h) for c, h in hists.items()}


def profile_counts(profile: DataFrame) -> DataFrame:
    """(col, n_rows, n_null, null_rate) from a profile frame — pure
    aggregation, no collect (null cells were preserved by
    shard_profile)."""
    return profile.groupBy("col").agg(
        F.sum("n").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), F.col("n")).otherwise(F.lit(0))).alias(
            "n_null"
        ),
        (
            F.sum(F.when(F.col("v").isNull(), F.col("n")).otherwise(F.lit(0)))
            / F.sum("n")
        ).alias("null_rate"),
    )
