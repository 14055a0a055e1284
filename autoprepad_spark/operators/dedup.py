"""Deduplication operators for large-scale training-data pipelines.

No reference counterpart (AutoPrepAD's nearest analog is the Spearman
duplicate-COLUMN check); these are the standard corpus-dedup family,
expressed Spark-first:

* exact          — hash-groupBy on normalized text (one shuffle on a
                   16-byte key, never on the text itself)
* minhash + LSH  — shingle -> 64-bit hash -> k min-hashes (ONE agg over
                   the exploded shingles, k mins computed together) ->
                   banded bucket join for candidates -> exact-Jaccard
                   verify on candidates only
* simhash        — per-bit majority of token hashes (64 sums in one agg),
                   near-dup candidates via 16-bit band buckets
* n-gram Jaccard — inverted-index self-join on distinct shingles;
                   intersection counts fall out of a groupBy, no pairwise
                   cross product ever materializes

Scale notes: every candidate generator keys its shuffle on a hash value
(uniform by construction — no skew); hot shingles (stopword n-grams) are
capped with a document-frequency filter before the self-join, which is
the standard guard against the quadratic blowup of common shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

#: LSH band buckets larger than this are dropped before the candidate
#: self-join. An oversized bucket means a cluster of (near-)identical
#: band signatures — overwhelmingly exact/boilerplate duplicates that the
#: md5 exact-dedup pass already catches pairwise-free — and joining it
#: would emit O(size^2) pair rows (the classic boilerplate-corpus blowup
#: at web scale: millions of identical docs -> one bucket -> quadratic).
DEFAULT_MAX_BUCKET = 200



def normalize_text(col) -> F.Column:
    """lower + collapse whitespace — the canonical form for exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_exemplars: int = 5,
) -> DataFrame:
    """Groups of byte-identical (normalized) texts: (text_hash, dup_count,
    doc_ids) where doc_ids is a DETERMINISTIC bounded exemplar set (the
    ``max_exemplars`` smallest ids). Shuffles 16-byte md5 keys, not
    documents.

    Scale note: a naive collect_list(doc_id) per group is an unbounded
    aggregation buffer — one pathological group (e.g. millions of empty
    documents hashing identically) OOMs a single reducer. Here a
    row_number window ranks ids within each hash group (sort-based,
    spills to disk instead of buffering), and the aggregation collects
    ONLY ranks <= K (collect_list skips the nulls the when() emits for
    the rest) — per-group agg state is bounded by K. ONE scan, one
    shuffle: the groupBy reuses the window's hash partitioning, so no
    second exchange."""
    hashed = df.select(
        F.md5(normalize_text(text_col)).alias("text_hash"), F.col(id_col)
    )
    w = W.partitionBy("text_hash").orderBy(id_col)
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_exemplars, F.col(id_col))
                )
            ).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def word_shingles(text_col: str, k: int = 3) -> F.Column:
    """Distinct word k-shingles as an array column (JVM-side, no UDF).

    The split/normalize is bound ONCE per row through a one-element
    outer ``transform`` whose lambda variable the shingle loop
    references: naively writing ``slice(words, i, k)`` inside the loop
    re-evaluates the regex normalization per shingle (interpreted
    higher-order lambdas get no common-subexpression elimination),
    which measured ~5x slower end-to-end on shingle-heavy plans.
    """
    words = F.split(normalize_text(text_col), " ")

    def body(ws: F.Column) -> F.Column:
        n = F.size(ws)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k)))
        return F.when(n >= k, F.array_distinct(sh)).otherwise(
            F.array(F.concat_ws(" ", ws))
        )

    return F.transform(F.array(words), body)[0]


def word_shingle_hashes(text_col: str, k: int = 3) -> F.Column:
    """Distinct 64-bit word-k-shingle hashes as ``array<long>`` — the
    production shingle path (JVM-side, no UDF, no per-shingle strings).

    Words are hashed ONCE each (xxhash64), then each shingle hash is
    xxhash64 over the k individual ``element_at`` longs of the word-hash
    array — NOT over a ``slice`` of it and NOT over per-shingle strings.
    Both alternatives were measured on 2M docs at pinned 4 vs 16 cores:
    the string path (``word_shingles`` + hash-after-explode) runs
    47s->42s (1.1x from 4x cores) and ``xxhash64(slice(wh,i,k))`` runs
    34s->22s (1.5x), while this form runs 16s->6.4s (2.5x, matching the
    scan+split ceiling) — per-shingle array/string allocation inside an
    interpreted lambda is what caps core scaling, so the hot path
    allocates nothing per shingle.

    Same lambda-binding discipline as ``word_shingles``: both ``words``
    and the word-hash array are bound once per row via one-element
    transforms, because interpreted higher-order lambdas re-evaluate
    free expressions per iteration (no CSE).

    Collision semantics: identical to hashing the shingle string —
    64-bit xxhash either way; only the hash VALUES differ, so Jaccard
    over the hash sets still equals string-shingle Jaccard up to
    negligible 2^-64 collisions.
    """
    words = F.split(normalize_text(text_col), " ")

    def hashes(wh: F.Column) -> F.Column:
        n = F.size(wh)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        sh = F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(k)]),
        )
        return F.when(n >= k, F.array_distinct(sh)).otherwise(
            F.array(F.xxhash64(wh))
        )

    def body(ws: F.Column) -> F.Column:
        wh = F.transform(ws, lambda w: F.xxhash64(w))
        return F.transform(F.array(wh), hashes)[0]

    return F.transform(F.array(words), body)[0]


def _shingle_hashes(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, h) — one row per distinct shingle, hashed to 64 bits."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingle_hashes(text_col, k)).alias("_h"),
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    shingles: DataFrame | None = None,
    method: str = "agg",
) -> DataFrame:
    """(id, sig:array<long>) — num_hashes min-hash values per doc.

    The i-th hash function is g_i(x) = xxhash64(seed, i, x) — a fully
    mixing 64-bit function, independent per i.

    Why NOT the textbook (a*x + b) mod p family: with 64-bit longs the
    only overflow-safe choice keeps a, x < 2^31 while p = 2^61-1, and
    then a*x + b < 2^62 wraps around p AT MOST ONCE — the "permutation"
    is piecewise linear with two pieces, nowhere near uniform. Every g_i
    is then dominated by the numerically smallest shingle hashes, the 32
    signature components are massively correlated, and both the banding
    recall guarantee and the matching-fraction Jaccard estimator break
    (measured: est 0.09 at true J 0.974). Doing the family right needs
    a, b ~ U[1, p), i.e. 128-bit products Spark expressions don't have;
    a seeded xxhash64 per function is the standard fix and is cheaper.

    ``method`` (when ``shingles`` is None):
      * ``"agg"`` (default) — explode the per-doc shingle-hash array and
        compute all num_hashes mins in ONE hash aggregation. The explode
        and the agg's partial (map-side) phase run inside whole-stage
        codegen, and partial aggregation collapses each doc to one
        264-byte row before the exchange — the shuffle is |docs|-sized,
        never |shingles|-sized. Measured on 2M docs, pinned cores
        (BENCH/BASELINE.md, "dedup-family scaling"): the WRONG variant
        of this plan — caching the exploded index to share with
        verification — is bandwidth-flat (44s at 4 cores -> 44s at 16);
        uncached it is the fastest CPU path because every hash evaluates
        in codegen.
      * ``"map"`` — minhash_signature_col per row: no explode, no
        shuffle, no agg hash table. Sounds optimal, measured 4x MORE
        single-core CPU (175s vs ~40s at 4 cores, same 2M docs): the
        per-hash transforms are interpreted HigherOrderFunctions (no
        codegen, one array allocation per hash function per row). Keep
        for maps-only contexts (e.g. inside a streaming foreachBatch
        where an extra exchange is disallowed); the default is the
        measured winner.

    ``shingles``: a precomputed (_id, _h) frame (e.g. shared with other
    consumers) to aggregate signatures from an existing index instead
    of re-deriving shingles. Values are identical across all three
    paths (min over the same distinct-hash set).
    """
    if shingles is None and method == "map":
        return df.select(
            F.col(id_col),
            minhash_signature_col(
                word_shingle_hashes(text_col, k_shingle),
                num_hashes=num_hashes,
                seed=seed,
            ).alias("sig"),
        ).filter(F.col("sig").isNotNull())
    if shingles is None:
        shingles = _shingle_hashes(df, text_col, id_col, k_shingle)
    mins = [
        F.min(F.xxhash64(F.lit(seed), F.lit(i), F.col("_h"))).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    sig = shingles.groupBy("_id").agg(*mins)
    return sig.select(
        F.col("_id").alias(id_col),
        F.array(*[f"m{i}" for i in range(num_hashes)]).alias("sig"),
    )


def minhash_signature_col(
    shingle_arr: F.Column, *, num_hashes: int = 32, seed: int = 42
) -> F.Column:
    """num_hashes min-hash values of a shingle-hash array, as one
    map-only expression: sig[i] = min over the array of
    xxhash64(seed, i, element).

    Same lambda-binding discipline as word_shingle_hashes: the shingle
    array is bound ONCE via a one-element transform so the (heavy)
    upstream expression isn't re-evaluated per hash function — an
    interpreted higher-order lambda re-evaluates free expressions per
    iteration (no CSE).
    """

    def body(arr: F.Column) -> F.Column:
        return F.array(
            *[
                F.array_min(
                    F.transform(
                        arr, lambda x: F.xxhash64(F.lit(seed), F.lit(i), x)
                    )
                )
                for i in range(num_hashes)
            ]
        )

    return F.transform(F.array(shingle_arr), body)[0]


def minhash_candidates(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 8,
    num_hashes: int | None = None,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Bucket key = hash(band slice) — uniform, shuffle-friendly. Pair
    generation happens per bucket via a self-join on the bucket key.

    max_bucket_size: the quadratic-blowup guard. Buckets above the cap
    are DROPPED before the self-join (a count window over the same
    (band, bucket) shuffle — no extra exchange). Oversized buckets mean
    thousands of docs with an identical band signature — boilerplate /
    exact-dup clusters that the md5 exact pass already catches without
    pair enumeration; keeping them would emit O(size^2) pair rows per
    bucket on a web crawl. ``None`` disables the cap (small corpora,
    recall proofs).

    LAZY: returns the candidate-pair plan with no side effects. The
    bucket table feeds both sides of the self-join, so callers should
    cache/materialize the (tiny) ``signatures`` frame — otherwise the
    whole shingle+minhash pipeline upstream executes once per side.
    """
    if num_hashes is None:  # driver peek = one full pipeline execution
        num_hashes = len(signatures.select("sig").first()["sig"])
    rows_per_band = num_hashes // bands
    # bucket key hashes the band's signature longs DIRECTLY (seeded with
    # the band index) — no per-band string concat; per-element string
    # allocation measurably caps core scaling (see word_shingle_hashes)
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
    buckets = signatures.select(F.col(id_col).alias("_id"), F.explode(band_cols).alias("bb")).select(
        "_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        bw = W.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bn", F.count(F.lit(1)).over(bw))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.9,
    shingles: DataFrame | None = None,
    broadcast_pairs: bool = False,
    assume_distinct: bool = False,
    prune_index: bool = True,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs: (id_a, id_b, jaccard).

    The canonical LSH pattern — candidates come from minhash/simhash
    banding (cheap, probabilistic), truth from exact shingle-set overlap
    computed ONLY for candidates. By default the join strategy is left
    to AQE: when the candidate set is small (the common case) AQE
    converts the join to a runtime broadcast from its measured size; on
    a near-dup-heavy corpus whose candidate set exceeds the broadcast
    ceiling it stays a shuffled join instead of forcing an executor OOM.
    ``broadcast_pairs=True`` pins the broadcast hint for callers that
    KNOW the set is tiny and want to skip the candidate-side shuffle.
    ``shingles``: precomputed (_id, _h) frame to share the index with
    the candidate generator. When it comes from ``_shingle_hashes`` the
    rows are already per-doc distinct (``word_shingles`` applies
    ``array_distinct`` before the explode), so pass
    ``assume_distinct=True`` to skip re-deduplicating — that distinct is
    a full extra shuffle of the LARGEST intermediate in the pipeline,
    and the only thing it guards is intra-doc 61-bit hash collisions
    (~1e-13 per doc), a risk class the hash-based intersection count
    already accepts cross-doc.
    ``prune_index`` (default on): semi-join the shingle index down to
    ids that appear in some candidate pair BEFORE the size aggregation
    and the intersection joins. Verification only ever reads candidate
    docs' shingles, but the planner cannot infer that through the
    (id, _h) join keys — without the prune, the size groupBy and the
    b-side join each shuffle the FULL index (the largest intermediate in
    the pipeline); with it, both touch only |candidate docs| rows, and
    when the id set broadcasts the index is never exchanged at all.
    Note the prune evaluates ``pairs`` one extra time — cache the
    candidate frame if its generation is expensive.
    """
    ids = None
    if prune_index:
        ids = (
            pairs.select(F.col("id_a").alias("_id"))
            .unionByName(pairs.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        if broadcast_pairs:
            ids = F.broadcast(ids)
    if shingles is None:
        src = df
        if ids is not None:
            # prune BEFORE shingling: only candidate docs are ever
            # exploded, so the index build is |candidates|-sized — the
            # full corpus is never shingled for verification
            src = df.join(ids.withColumnRenamed("_id", id_col), id_col, "left_semi")
        sh = _shingle_hashes(src, text_col, id_col, k_shingle)
    else:
        # only an EXTERNAL index of unknown provenance needs the dedup
        sh = shingles if assume_distinct else shingles.distinct()
        if ids is not None:
            sh = sh.join(ids, "_id", "left_semi")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("_h"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_h"))
    p = pairs.select("id_a", "id_b")
    if broadcast_pairs:
        p = F.broadcast(p)
    inter = (
        a.join(p, "id_a")
        .join(b, ["id_b", "_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing a shingle.

    inverted index -> self-join on shingle hash -> intersection counts in
    one groupBy -> |A|,|B| joined back -> J = inter/(|A|+|B|-inter).
    max_doc_freq drops ubiquitous shingles (stopword n-grams) before the
    self-join — the standard skew guard; without it one hot shingle
    produces df^2 pair rows.

    No (id, h) re-distinct is needed: ``word_shingles`` emits per-doc
    distinct shingles, so the index is distinct by construction (see
    ``verify_pairs_jaccard``'s assume_distinct note).
    """
    sh = _shingle_hashes(df, text_col, id_col, k_shingle)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        freq = sh.groupBy("_h").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(freq.filter(F.col("df") <= max_doc_freq).select("_h"), "_h")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "_h")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """(id, simhash:long) — per-bit majority vote of token hashes.

    explode words -> xxhash64 -> for each bit position sum(±1) -> sign.
    The 64 bit-sums are computed in ONE aggregation (64 sum columns),
    then reassembled into the fingerprint with bit arithmetic — all
    JVM-side expressions.
    """
    words = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("_w"),
    ).select("_id", F.xxhash64("_w").alias("_h"))
    sums = words.groupBy("_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        # shiftleft handles bit 63 (wraps into the sign bit) — a Python
        # 1 << 63 literal would overflow the signed-long literal range
        fp = fp + F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col("_id").alias(id_col), fp.alias("simhash"))


def simhash_candidates(fps: DataFrame, *, id_col: str = "doc_id", band_bits: int = 16) -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit band of the simhash
    (Hamming distance <= 3 guaranteed found with 4 bands of 16 bits)."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask)).alias("bucket"),
            )
            for i in range(nbands)
        ]
    )
    ex = fps.select(F.col(id_col).alias("_id"), "simhash", F.explode(bands).alias("bb")).select(
        "_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    col_a: str = "id_a",
    col_b: str = "id_b",
    *,
    max_iter: int = 25,
    verbose: bool = False,
) -> DataFrame:
    """(node, component) labels for the undirected graph given as pairs,
    component = the smallest node id reachable from each node.

    This is the step a real dedup pipeline needs AFTER pair
    verification: near-dup pairs (a,b),(b,c) must collapse into ONE keep
    decision for {a,b,c}, which is exactly connected components.

    Algorithm: alternating large-star / small-star contractions
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — each round is two (groupBy + join) shuffles on node keys
    and converges in O(log^2 n) rounds, versus O(diameter) for naive
    label propagation (a 100 TB web crawl's boilerplate chains can have
    long paths). No driver-side graph state: the driver sees only the
    per-round edge count for the fixpoint test. Each round's result is
    persisted and the previous round freed, so lineage stays one round
    deep instead of growing with iterations.

    Determinism: min() contractions are order-independent; the output is
    a pure function of the input pair set.

    Lineage: every round ends in localCheckpoint(eager) rather than
    persist(). With persist alone the logical plan still GROWS by one
    round's operators every iteration and Catalyst re-analyzes the whole
    accumulated tree per round — measured here as per-round driver time
    inflating from seconds to minutes by round 3. Checkpointing truncates
    the plan to a leaf. (On a cluster, flip to reliable checkpoint() —
    localCheckpoint blocks don't survive executor loss.)
    """
    from pyspark.storagelevel import StorageLevel

    # canonical orientation big->small: (u, v) with u > v
    edges = (
        pairs.select(
            F.greatest(F.col(col_a), F.col(col_b)).alias("u"),
            F.least(F.col(col_a), F.col(col_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = edges.count()
    for _ in range(max_iter):
        # ---- large-star: connect every neighbor bigger than u to
        # m(u) = min(N(u) ∪ {u}) ------------------------------------
        bidir = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("_mn"), F.col("u")).alias("m")
        )
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # small-star reads this twice (join side + smins); persist so
            # the large-star shuffle chain runs once per round
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # ---- small-star: connect u and all smaller neighbors to the
        # minimum of that set ----------------------------------------
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = small.count()
        large.unpersist()
        # cheap guard first: set equality is only possible at equal
        # counts, so the anti-join (one extra job) runs ~once, at the
        # actual fixpoint
        stable = (
            n_new == n_prev
            and edges.join(small, ["u", "v"], "left_anti").isEmpty()
        )
        # previous round's checkpoint blocks are freed by the
        # ContextCleaner once the old frame is unreferenced
        edges, n_prev = small, n_new
        if verbose:
            import sys as _sys

            print(f"# cc round edges={n_new} stable={stable}", file=_sys.stderr)
        if stable:
            break
    # at fixpoint every edge is (node, component-min); the minima label
    # themselves
    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return labels.unionByName(roots)


def dup_cluster_sizes(
    pairs: DataFrame, col_a: str = "id_a", col_b: str = "id_b"
) -> DataFrame:
    """(cluster, n_docs) per near-duplicate cluster — the groupBy over
    connected_components labels that drives keep-one-per-cluster."""
    cc = connected_components(pairs, col_a, col_b)
    return cc.groupBy(F.col("component").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def keep_one_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    col_a: str = "id_a",
    col_b: str = "id_b",
) -> DataFrame:
    """The deduplicated corpus: drop every doc that belongs to a near-dup
    cluster except the cluster's smallest id (deterministic canonical
    pick). Docs in no pair pass through untouched.

    One broadcast-or-shuffled left_anti join against the (tiny relative
    to the corpus) drop-list — the labels frame holds only docs that
    appear in some pair, and the anti-join key is the doc id, so the
    corpus itself is never widened or re-shuffled."""
    labels = connected_components(pairs, col_a, col_b)
    drop = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def split_paragraphs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n\s*\n",
) -> DataFrame:
    """(id, para_idx, para) — one row per non-blank paragraph, with the
    paragraph's 0-based position in its document. One posexplode, no
    shuffle; the unit of line/paragraph-level dedup (CCNet dedupes
    lines, Dolma paragraphs — same shape, different ``sep``)."""
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias(
                "para_idx", "para"
            ),
        )
        .filter(F.length(F.trim("para")) > 0)
    )


def strip_duplicate_paragraphs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\n\s*\n",
    keep: str = "first",
) -> DataFrame:
    """Cross-document paragraph-level dedup: every paragraph (normalized
    form) survives in exactly ONE document — the one with the smallest
    (id, position) — and repeats elsewhere are removed; documents are
    rebuilt from their surviving paragraphs with a canonical "\\n\\n"
    joiner (blank paragraphs do not survive). keep="none" instead drops
    EVERY occurrence of any paragraph seen in more than one place (the
    aggressive boilerplate rule).

    The step CCNet applies to lines and Dolma to paragraphs before
    training. Scale shape: two unavoidable shuffles — paragraphs hash
    to their identity key for the keep decision (row_number window per
    md5 group; group sizes are bounded by a paragraph's global dup
    count, and the window sorts WITHIN groups only), then surviving
    paragraphs shuffle back to their document for ordered reassembly.
    Per-doc state in the rebuild is the document itself (bounded by the
    corpus's max doc size). Nothing is collected; both stages are plain
    keyed exchanges that AQE balances.
    """
    paras = split_paragraphs(df, text_col=text_col, id_col=id_col, sep=sep)
    h = F.md5(normalize_text("para"))
    w = W.partitionBy("_h").orderBy(F.col(id_col), F.col("para_idx"))
    marked = paras.withColumn("_h", h).withColumn(
        "_rk", F.row_number().over(w)
    )
    if keep == "first":
        kept = marked.filter(F.col("_rk") == 1)
    elif keep == "none":
        wc = W.partitionBy("_h")
        kept = marked.withColumn("_n", F.count(F.lit(1)).over(wc)).filter(
            F.col("_n") == 1
        )
    else:  # pragma: no cover - guarded API
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("para_idx", "para"))
            ).alias("_ps")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n\n", F.transform("_ps", lambda s: s["para"])
            ).alias(text_col),
        )
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


def token_windows(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
) -> DataFrame:
    """(id, pos, whash) — one row per length-``window`` token window
    (0-based start position, 64-bit hash of the space-joined window).

    The unit of exact-substring dedup (Lee et al. 2022's ExactSubstr,
    arXiv:2107.06499): a verbatim overlap of >= window tokens between two
    documents shows up as an identical window hash at some position in
    each. The hash is used ONLY for equality (the groupBy below), so it
    is computed in the integer domain: tokens hashed once each, each
    window hash = xxhash64 over the ``window`` consecutive token-hash
    longs via ``element_at`` — no per-window string or array is built.
    (The earlier ``xxhash64(concat_ws(slice(...)))`` form allocates one
    string per window; per-element allocation inside interpreted lambdas
    measurably caps multi-core scaling — see word_shingle_hashes.) The
    explode emits ``n_tokens - window + 1`` rows per doc, which is the
    inherent index size of this algorithm, not an implementation
    artifact.
    """
    toks = F.split(normalize_text(text_col), " ")

    def hashes(th: F.Column) -> F.Column:
        n = F.size(th)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
        return F.when(
            n >= window,
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(th, i + j) for j in range(window)]
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    def body(ts: F.Column) -> F.Column:
        th = F.transform(ts, lambda t: F.xxhash64(t))
        return F.transform(F.array(th), hashes)[0]

    arr = F.transform(F.array(toks), body)[0]
    return df.select(
        F.col(id_col).alias("_id"), F.posexplode(arr).alias("_pos", "_wh")
    )


def exact_substring_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 50,
    keep: str = "first",
) -> DataFrame:
    """Remove verbatim >=``window``-token spans that occur more than once
    in the corpus (Lee et al. 2022 ExactSubstr, re-expressed for Spark:
    the suffix array is replaced by a distributed sliding-window-hash
    index, the standard scale-out approximation — it finds exactly the
    duplicated spans of length >= window, at window-token resolution).

    keep="first": each duplicated window survives only at its globally
    smallest (id, position) occurrence; every other occurrence's token
    span is deleted. keep="none" deletes every occurrence. Documents are
    rebuilt from their surviving tokens (single-space joined, i.e. in
    normalize_text's canonical form — same contract as
    strip_duplicate_paragraphs); docs shorter than ``window`` tokens pass
    through (normalized) untouched.

    Scale shape: the window index is |tokens| rows of (id, pos, 8-byte
    hash) — the algorithm's inherent cost. Duplicate detection is ONE
    map-side-combined hash agg on the window hash (shuffle carries only
    per-hash partials); only *duplicated* occurrences (typically a tiny
    fraction) reach the span-expansion explode (x window rows) and the
    anti-join; the rebuild shuffles surviving tokens once, keyed by doc,
    with per-doc state bounded by the doc itself. No driver-side state,
    no broadcast of corpus-sized frames, every stage AQE-balanced.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    wins = token_windows(df, text_col=text_col, id_col=id_col, window=window)
    # one agg: occurrence count + the surviving occurrence per hash
    agg = wins.groupBy("_wh").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct("_id", "_pos")).alias("_keep"),
    )
    dup = agg.filter(F.col("_n") > 1)
    occ = wins.join(dup, "_wh")
    if keep == "first":
        occ = occ.filter(
            ~(
                (F.col("_id") == F.col("_keep._id"))
                & (F.col("_pos") == F.col("_keep._pos"))
            )
        )
    # token positions covered by any removed occurrence
    cov = (
        occ.select(
            "_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(window - 1))
            ).alias("_cp"),
        )
        .distinct()
    )
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "_tp", "_tok"
        ),
    )
    kept = toks.join(
        cov.withColumnRenamed("_cp", "_tp"), ["_id", "_tp"], "left_anti"
    )
    rebuilt = (
        kept.groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("_tp", "_tok"))).alias("_ts"))
        .select(
            F.col("_id").alias(id_col),
            F.concat_ws(" ", F.transform("_ts", lambda s: s["_tok"])).alias(
                text_col
            ),
        )
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )
