"""The streaming engine: every file-stream face of the package is a
stage of ``stream_pipeline``, composed inside ONE ``foreachBatch``.

An ingest pipeline rarely wants one check alone: arriving files should
be deduplicated against everything ever accepted, the SURVIVORS
validated against train-fitted constraints, scored with a batch-fitted
anomaly model and compared against a baseline distribution, all
without reading the batch once per check or running one streaming
query per check against its own checkpoint. Pass any subset of
DedupStage / ValidateStage / ScoreStage / DriftStage:

* ONE readStream + ONE checkpoint own the file-source log;
  ``Trigger.AvailableNow`` drains the backlog and stops (scheduled
  incremental validation), ``available_now=False`` runs continuously;
* the batch is cached once; dedup's kept subset (computed by
  ``incremental.run_shard_dedup`` against the persisted index, the
  current batch's own partition excluded) feeds the other stages, so
  dropped rows never reach the validators;
* EVERY sink (kept / dropped / index / verdicts / violations / scored /
  alerts / drift) is written by ``_sink`` straight into its
  ``<path>/ingest_batch=<id>`` directory, replacing it, so a batch
  replayed after a crash between any sink write and the checkpoint
  commit replaces its own directories instead of duplicating rows, and
  the sinks read back hive-partitioned by ``ingest_batch``;
* nothing a trigger plans depends on the batch id or is rebuilt per
  trigger: the sinks carry no batch literal, the dedup stage reads the
  index's other partitions by path, the validate stage's Columns
  (marking, explode, verdict rule) are built once when the query
  starts and the drift baseline is collected then too. A warm
  trigger's plans therefore hit Spark's codegen cache and compile
  nothing;
* the validate, score and drift stages, and within them the
  violations and verdicts sinks and the scored and alerts sinks, are
  written CONCURRENTLY (``_concurrently``). A small file's batch makes
  every write a one-task job, so one after another they would leave
  all but one core idle. It is safe because no sink reads another's
  output: verdicts read the cached violations frame, alerts the cached
  scored frame, and every stage the cached batch. A cache is
  unpersisted only after every write that reads it has returned; two
  jobs that race for one cached partition compute it once (the block
  manager's write lock), and the sink jobs inherit the query's job
  group, so ``query.stop()`` still cancels them. Dedup's writes stay
  sequential.

Validation needs no state beyond the checkpoint (marking is a pure
map), and uniqueness is not checked per batch: a global property
cannot be decided on a file subset. The stream-frame transforms that
need the state store (windowed profiles, running totals, watermarked
exact dedup) live in ``streaming/validate.py``.

Scale shape: dedup exchanges O(|batch|) signature rows against a
partition-pruned index, marking is a pure Arrow/codegen map whose slim
output is cached once for the violations and verdicts sinks (verdict
counts are one groupBy(part) over its flags), scoring a stateless
projection, drift one |sources| x |buckets| aggregation; composing them
adds no pass over the batch beyond the one cache.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from autoprepad_spark.operators import drift as D
from autoprepad_spark.operators.marking import slim_marker
from autoprepad_spark.operators.profile import ProfileStats
from autoprepad_spark.plans import verdicts as V
from autoprepad_spark.plans.suite import ALL_CHECKS, allowed_sources
from autoprepad_spark.sources.tables import list_names


@dataclass(frozen=True)
class DedupStage:
    """Shard-vs-history dedup against the PERSISTED sketch index (the
    streaming face of operators/incremental.py). Each batch is exact-
    deduped within itself (keep-first: smallest id wins), then against
    everything ever accepted (one content-hash anti-join plus a band-
    bucket lookup; the historical text is never read), and the kept
    rows' (doc_id, content_hash, sig) rows join the index, so the NEXT
    batch sees them as history. Near-dups that arrive within one batch
    are both kept; they are caught if either text arrives again. Seed
    the history with ``seed_index``."""

    index_path: str
    kept_path: str
    dropped_path: str
    text_col: str = "text"
    id_col: str = "doc_id"
    k_shingle: int = 3
    num_hashes: int = 32
    seed: int = 42
    bands: int = 8
    threshold: float = 0.8


@dataclass(frozen=True)
class ValidateStage:
    """Train-fitted constraint marking: the batch suite's marking pass
    with the TRAIN stats (the reference's fit-then-predict split),
    writing violation rows and per-(batch, part) verdicts. Uniqueness
    is excluded (a global property cannot be decided on a file
    subset), and ref_source is checked only when ``dim`` is given (its
    allowed set is collected when the query starts). Rows without a
    ``part`` form one verdict group of their own."""

    stats: ProfileStats
    verdict_path: str
    violation_path: str
    dim: DataFrame | None = None
    vocab_size: int | None = None


@dataclass(frozen=True)
class ScoreStage:
    """Batch-fitted anomaly scoring. Every scorer in the engine ships
    its fitted state as plan literals inside a Column expression or
    Arrow UDF (``scoring.ensemble_score``, ``scoring.mahalanobis_score``,
    ``spectral.pca_score_udf``), so streaming inference is that Column
    applied per batch. ``keep_cols`` is the projection of both sinks
    (default: every column; ``[]`` keeps none), with ``anomaly_score``
    appended. Rows scoring above ``threshold`` also go to the alert
    sink, so a monitor tails a small table; fit the threshold
    batch-side, since a per-batch quantile would alert relative to each
    batch's own distribution."""

    score: Column
    scored_path: str
    alert_path: str | None = None
    threshold: float | None = None
    keep_cols: list[str] | None = field(default=None, hash=False)

    def __post_init__(self):
        if (self.threshold is None) != (self.alert_path is None):
            raise ValueError("threshold and alert_path must be set together")


@dataclass(frozen=True)
class DriftStage:
    """Per-batch distribution drift: each batch's per-source n_tok
    histogram is compared against the baseline histogram (PSI + chi²,
    the batch drift operator), one row per (batch, source). The
    baseline is collected once, when the query starts, and is scored
    against every batch on the driver. The state is only the
    |sources| x |buckets| histogram, so batch size does not change the
    memory footprint."""

    baseline_hist: DataFrame
    drift_path: str
    bucket_width: int = D.DEFAULT_BUCKET_WIDTH


def _sink(df: DataFrame, path: str, batch_id: int) -> None:
    """The streaming-wide idempotent sink: ``df`` replaces the directory
    ``<path>/ingest_batch=<batch_id>``. Read back from ``path``,
    partition discovery adds the int column ``ingest_batch``: the
    layout, schema and rows of a hive-partitioned write. No plan
    carries the batch id, so every batch's write plans the same code.

    A replay always replaces its partition, even when the new result is
    empty: an empty result leaves the directory holding one empty file,
    so every batch has a partition in every sink. The write deletes the
    directory and then writes it (not a staged rename), so a crash in
    between leaves the batch's partition missing or partial; that is
    safe because the batch is not committed and is replayed."""
    df.write.mode("overwrite").parquet(
        f"{path.rstrip('/')}/ingest_batch={batch_id}")


def seed_index(index: DataFrame, index_path: str) -> None:
    """Persist an initial dedup history (e.g. ``build_dedup_index`` over
    the existing corpus) in the layout DedupStage reads, under
    ``ingest_batch=-1``."""
    _sink(index, index_path, -1)


def _dedup_batch(
    spark: SparkSession,
    cfg: DedupStage,
    batch_df: DataFrame,
    batch_id: int,
    id_type: T.DataType,
    downstream,
) -> None:
    """One batch through shard-vs-history dedup; calls
    ``downstream(kept_plain)`` with the kept rows (original columns)
    BEFORE unpersisting them, so later stages reuse the cached subset."""
    from pyspark.sql import Window as W

    from autoprepad_spark.operators import incremental as INC

    index_schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("content_hash", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])
    # every partition but this batch's own (a replay's first attempt),
    # read by path: a filter on ingest_batch would put the batch id in
    # the plan
    history = [
        f"{cfg.index_path.rstrip('/')}/{d}"
        for d in sorted(list_names(spark, cfg.index_path))
        if d.startswith("ingest_batch=") and d != f"ingest_batch={batch_id}"
    ]
    if history:
        idx = spark.read.schema(index_schema).parquet(*history)
    else:
        idx = spark.createDataFrame([], index_schema)

    hashed = batch_df.withColumn("_ch", INC.content_hash(cfg.text_col))
    rn = F.row_number().over(W.partitionBy("_ch").orderBy(cfg.id_col))
    uniq = hashed.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    in_batch_dropped = (
        hashed.withColumn("_rn", rn)
        .filter(F.col("_rn") > 1)
        .select(
            F.col(cfg.id_col).alias("doc_id"),
            F.lit("exact_in_batch").alias("reason"),
            # matched_id carries ids, so it types as the id column does
            F.lit(None).cast(id_type).alias("matched_id"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
    )
    uniq = uniq.drop("_ch").cache()

    def kept_sink(kept: DataFrame) -> None:
        kept = kept.cache()
        _sink(
            kept.select(F.col(cfg.id_col).alias("doc_id"),
                        "content_hash", "sig"),
            cfg.index_path, batch_id,
        )
        plain = kept.drop("content_hash", "sig")
        _sink(plain, cfg.kept_path, batch_id)
        downstream(plain)
        kept.unpersist()

    def dropped_sink(dropped: DataFrame) -> None:
        _sink(dropped.unionByName(in_batch_dropped),
              cfg.dropped_path, batch_id)

    try:
        INC.run_shard_dedup(
            uniq, idx,
            kept_sink=kept_sink, dropped_sink=dropped_sink,
            text_col=cfg.text_col, id_col=cfg.id_col,
            k_shingle=cfg.k_shingle, num_hashes=cfg.num_hashes,
            seed=cfg.seed, bands=cfg.bands, threshold=cfg.threshold,
        )
    finally:
        uniq.unpersist()


def _concurrently(*thunks: Callable[[], None]) -> None:
    """Run independent writes at the same time: the first thunk on this
    thread, the others on ``InheritableThread``s.

    A small batch's write is a one-task job, so one after another they
    leave all but one core idle. The threads copy this thread's Spark
    local properties, so their jobs carry the streaming query's job
    group (``query.stop()`` cancels writes still in flight) and the
    micro-batch's SQL execution id. Every thread is joined before the
    first error (in thunk order) is re-raised, so no write is still
    running when the caller unpersists what the writes read."""
    errors: list[BaseException | None] = [None] * len(thunks)

    def run(i: int) -> None:
        try:
            thunks[i]()
        except BaseException as e:  # re-raised on the calling thread
            errors[i] = e

    threads = [InheritableThread(run, args=(i,)) for i in range(1, len(thunks))]
    for t in threads:
        t.start()
    try:
        thunks[0]()
    finally:
        for t in threads:
            t.join()
    for e in errors:
        if e is not None:
            raise e


def _validate_batch(cfg: ValidateStage) -> Callable[[DataFrame, int], None]:
    """A ValidateStage's per-batch body. Its Columns (the slim marking,
    the violation explode and the flag-count verdicts) are built here,
    once per query; the returned ``(df, batch_id)`` function applies
    them to the batch, caches the marked frame and writes the
    violations and verdicts sinks from it concurrently."""
    kwargs = {} if cfg.vocab_size is None else {"vocab_size": cfg.vocab_size}
    allowed = None if cfg.dim is None else allowed_sources(cfg.dim)
    mark = slim_marker(cfg.stats, allowed_sources=allowed, **kwargs)
    explode = V.violation_exploder(mark.columns)
    checks = [c for c in ALL_CHECKS if c != "unique_doc_id"]
    if cfg.dim is None:
        checks = [c for c in checks if c != "ref_source"]
    verdicts = V.flag_count_verdicts(checks)

    def run(df: DataFrame, batch_id: int) -> None:
        marked = mark(df).cache()
        try:
            _concurrently(
                lambda: _sink(explode(marked), cfg.violation_path, batch_id),
                lambda: _sink(verdicts(marked), cfg.verdict_path, batch_id),
            )
        finally:
            marked.unpersist()

    return run


def _score_batch(cfg: ScoreStage, df: DataFrame, batch_id: int) -> None:
    cols = df.columns if cfg.keep_cols is None else cfg.keep_cols
    out = df.select(*cols, cfg.score.alias("anomaly_score"))
    if cfg.threshold is not None:
        # one cached pass feeds both sinks; the alert subset is bounded
        # by the threshold's fitted tail mass
        out = out.cache()
        try:
            _concurrently(
                lambda: _sink(out, cfg.scored_path, batch_id),
                lambda: _sink(out.filter(F.col("anomaly_score") > cfg.threshold),
                              cfg.alert_path, batch_id),
            )
        finally:
            out.unpersist()
    else:
        _sink(out, cfg.scored_path, batch_id)


def _drift_batch(
    cfg: DriftStage, baseline: list, df: DataFrame, batch_id: int
) -> None:
    cur = D.collect_histogram(D.ntok_histogram(df, bucket_width=cfg.bucket_width))
    _sink(D.drift_from_counts(df.sparkSession, baseline, cur),
          cfg.drift_path, batch_id)


def stream_pipeline(
    spark: SparkSession,
    input_path: str,
    *,
    schema: T.StructType | str,
    checkpoint_dir: str,
    dedup: DedupStage | None = None,
    validate: ValidateStage | None = None,
    score: ScoreStage | None = None,
    drift: DriftStage | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the composed ingest pipeline; returns the StreamingQuery.

    Dedup runs first and the other stages see only its survivors:
    validating, scoring or profiling rows that dedup is about to drop
    wastes work AND pollutes verdicts, alerts and drift with rows the
    corpus never accepts. Validate, score and drift run side by side.
    Pass any subset; at least one stage is required.
    """
    if dedup is None and validate is None and score is None and drift is None:
        raise ValueError("at least one stage (dedup/validate/score/drift) required")

    struct = (
        schema if isinstance(schema, T.StructType)
        else T.StructType.fromDDL(schema)
    )
    reader = (
        spark.readStream.schema(struct)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1000)
        .parquet(input_path)
    )

    # what does not change while the query runs is built once
    validate_batch = None if validate is None else _validate_batch(validate)
    baseline = None if drift is None else D.collect_histogram(drift.baseline_hist)

    def tail_stages(df: DataFrame, batch_id: int) -> None:
        stages = []
        if validate is not None:
            stages.append(lambda: validate_batch(df, batch_id))
        if score is not None:
            stages.append(lambda: _score_batch(score, df, batch_id))
        if drift is not None:
            stages.append(lambda: _drift_batch(drift, baseline, df, batch_id))
        if stages:
            _concurrently(*stages)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            if dedup is not None:
                id_type = struct[dedup.id_col].dataType
                _dedup_batch(
                    spark, dedup, batch_df, batch_id, id_type,
                    downstream=lambda kept: tail_stages(kept, batch_id),
                )
            else:
                tail_stages(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
