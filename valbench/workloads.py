"""The three workloads. Each ``step()`` is one closed-loop iteration: the
next starts only when the previous one has returned. ``step()`` returns
one Sample per timed operation with the problems its output checks found.

* ``suite_full``: one in-process ``runner.main`` call over the whole
  table with a dimension table, a drift baseline and a fresh checkpoint.
  Every call writes its own output directory, checked when the run
  closes, so the checks take no time from the timed window.
* ``suite_resume_hotkey``: the same call against a checkpoint that has
  DONE_PARTS of N_PARTS partitions done, restored before each call, on
  a table where ~1% of rows share one doc_id.
* ``stream_ingest``: a long-running ``stream_pipeline`` query with a
  ValidateStage and a ScoreStage takes one staged file per trigger; one
  sample per trigger. Its sinks are checked when the run closes, as are
  those of the traced run's batches.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F

from autoprepad_spark import datagen as D
from autoprepad_spark import runner
from autoprepad_spark.operators.profile import global_stats
from autoprepad_spark.operators.scoring import fit_mahalanobis, mahalanobis_score
from autoprepad_spark.plans.suite import ALL_CHECKS, read_violations
from autoprepad_spark.plans.verdicts import HARD_CHECKS
from autoprepad_spark.schema import TOKENS_SCHEMA
from autoprepad_spark.streaming.pipeline import ScoreStage, ValidateStage, stream_pipeline

from valbench import fixtures as FX
from valbench.checks import HashBook, compare_counts, content_hash
from valbench.host import tree_cpu_s

#: Mahalanobis distance on n_tok above which a row is an alert; every
#: batch holds injected length outliers far above it
ALERT_THRESHOLD = 3.0
DRIFTED_SOURCE = "web"


@dataclass
class Sample:
    wall_s: float
    cpu_s: float
    rows: int
    tokens: int
    problems: list[str] = field(default_factory=list)


class Suite:
    """Batch validation through the CLI runner, called in-process."""

    #: untimed calls before the timed ones, in setup_s
    WARMUP = 1

    def __init__(self, spark: SparkSession, work: str, run_dir: str, seed: int,
                 rows: int, resume: bool):
        self.spark, self.work, self.seed, self.rows = spark, work, seed, rows
        self.resume, self.run_dir = resume, run_dir
        self.name = "suite_resume_hotkey" if resume else "suite_full"
        d = lambda *p: os.path.join(run_dir, *p)  # noqa: E731
        self.baseline, self.out = d("baseline"), d("out")
        self.ck, self.ck_seed = d("checkpoint"), d("checkpoint-seed")
        #: (output dir, exit code, failed_checks, sample) of each call
        self.pending: list[tuple[str, int, int, Sample]] = []

    def prepare(self, tracer=None) -> None:
        self.table = os.path.join(self.run_dir, "table")
        self.tokens = FX.token_table(self.spark, self.table, self.seed, self.rows, hot=self.resume)
        self.dim = FX.source_dim(self.spark, os.path.join(self.run_dir, "dim"))
        FX.drift_baseline(self.spark, self.seed, self.baseline)
        if self.resume:
            self.remaining = FX.seed_checkpoint(self.spark, self.ck_seed, self.rows)
        else:
            self.remaining = [FX.part_name(p) for p in range(FX.N_PARTS)]
        counts = FX.expected_counts(0, self.rows, hot=self.resume)
        self.want = {
            (c, FX.part_name(p)): int(n)
            for c, arr in counts.items()
            for p, n in enumerate(arr)
            if n and FX.part_name(p) in self.remaining
        }
        self.hashes = HashBook(FX.hash_book(self.work, f"{self.name}-s{self.seed}-r{self.rows}"))

    def reset(self) -> None:
        shutil.rmtree(self.ck, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.ck_seed, self.ck)

    def argv(self, out: str) -> list[str]:
        return ["--input", self.table, "--dim", self.dim, "--baseline-hist", self.baseline,
                "--output", out, "--run-id", FX.RUN_ID, "--checkpoint", self.ck]

    def step(self) -> list[Sample]:
        self.reset()
        out = f"{self.out}-{len(self.pending)}"
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                rc = runner.main(self.argv(out))
        except Exception as e:  # a failed call is a failed operation, not a crash
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            return [Sample(wall, cpu, self.rows, self.tokens, [f"runner raised {e!r}"])]
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        sample = Sample(wall, cpu, self.rows, self.tokens)
        try:
            summary = json.loads(buf.getvalue().strip().splitlines()[-1])
            self.pending.append((out, rc, summary["failed_checks"], sample))
        except Exception as e:  # an unreadable summary fails the operation
            sample.problems.append(f"runner summary unreadable: {e!r}")
        return [sample]

    def close(self) -> None:
        """Check the outputs of every call."""
        for out, rc, failed_checks, sample in self.pending:
            try:
                sample.problems += self.check(out, rc, failed_checks)
            except Exception as e:  # unreadable output fails the operation
                sample.problems.append(f"output check raised {e!r}")

    def check(self, out: str, rc: int, failed_checks: int) -> list[str]:
        spark, problems = self.spark, []
        viol = read_violations(spark, os.path.join(out, "violations"))
        got = {
            (r["check_name"], r["part"]): r["count"]
            for r in viol.filter(F.col("check_name").isin(*sorted(HARD_CHECKS)))
            .groupBy("check_name", "part").count().collect()
        }
        problems += compare_counts(got, self.want, "violations")

        verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
        fails = {
            (r["check_name"], r["part"])
            for r in verdicts.filter(F.col("status") == "fail").select("check_name", "part").collect()
        }
        hard_fails = {k for k in fails if k[0] in HARD_CHECKS}
        if hard_fails != set(self.want):
            problems.append(f"hard-check fails {sorted(hard_fails ^ set(self.want))} differ")
        # statistical verdicts depend on the data, not on closed-form
        # moduli: the first run of a seed fixes them, later ones repeat them
        problems += self.hashes.check("stat_fails", str(len(fails - hard_fails)))
        expected_fails = len(self.want) + int(self.hashes.ref["stat_fails"])
        if rc != 2 or failed_checks != expected_fails:
            problems.append(f"runner exit {rc} with failed_checks={failed_checks}, "
                            f"expected exit 2 with {expected_fails}")

        v_hash = content_hash(verdicts)[""]
        n_verdicts = int(v_hash.split(":")[1])
        if n_verdicts != len(self.remaining) * len(ALL_CHECKS):
            problems.append(f"{n_verdicts} verdict rows for {len(self.remaining)} partitions")
        problems += self.hashes.check("verdicts", v_hash)
        problems += self.hashes.check("violations", content_hash(viol)[""])

        drifted = [r["source"] for r in spark.read.parquet(os.path.join(out, "drift"))
                   .filter(F.col("status") == "fail").select("source").collect()]
        if DRIFTED_SOURCE not in drifted:
            problems.append(f"drift missed the drifted source: failing sources {drifted}")
        return problems


class Stream:
    """Small-file ingest through the composed streaming pipeline."""

    SINKS = ("violations", "verdicts", "scored", "alerts")
    #: untimed triggers before the timed ones, in setup_s. The first ~6
    #: triggers of a session run on the JIT warm-up slope (8.4, 6.5, 6.4,
    #: 6.1, 4.6, 3.7 s, then ~2.4-2.9 s in one session); after three, the
    #: first timed trigger was still often the slowest and set the tail
    WARMUP = 5

    def __init__(self, spark: SparkSession, work: str, run_dir: str, seed: int):
        self.spark, self.work, self.seed, self.run_dir = spark, work, seed, run_dir
        self.inbox = os.path.join(run_dir, "inbox")
        self.staging = os.path.join(run_dir, "staging")
        self.sink = {s: os.path.join(run_dir, "sink", s) for s in self.SINKS}
        #: sinks of the traced run's batches, outside the query's
        self.traced_sink = {s: p + "-traced" for s, p in self.sink.items()}
        self.staged = 0  # files staged so far; names and mtimes follow it
        self.progress: list[dict] = []  # progress of every non-empty trigger
        #: (progress, pool index, sample) of each trigger, checked at close()
        self.pending: list[tuple[dict, int, Sample]] = []
        self.query = None

    def prepare(self, tracer=None) -> None:
        spark = self.spark
        meta = FX.stream_pool(spark, self.run_dir, self.seed)
        self.pool, self.pool_tokens = meta["files"], meta["tokens"]
        train = FX.training_table(spark, self.seed, os.path.join(self.run_dir, "train"))
        span = tracer.span("profile") if tracer else contextlib.nullcontext()
        with span:
            self.stats = global_stats(train)
        mu, inv = fit_mahalanobis(train, ["n_tok"])
        self.score = mahalanobis_score(["n_tok"], mu, inv)
        self.dim = D.source_dim(spark)
        self.want = []
        for k in range(len(self.pool)):
            lo = k * FX.STREAM_FILE_ROWS
            counts = FX.expected_counts(lo, lo + FX.STREAM_FILE_ROWS)
            self.want.append({
                (c, FX.part_name(p)): int(n)
                for c, arr in counts.items() if c != "unique_doc_id"
                for p, n in enumerate(arr) if n
            })
        self.hashes = HashBook(FX.hash_book(
            self.work, f"stream_ingest-s{self.seed}-f{FX.STREAM_FILE_ROWS}x{FX.STREAM_FILES}"))
        self.t_base = time.time()
        os.makedirs(self.inbox, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)

    def stage(self) -> int:
        """Place the next pool file (round robin) in the inbox; returns its
        pool index. The copy is made beside the inbox and renamed into it,
        so the running query never lists a half-written file. Strictly
        increasing mtimes fix the order the file source takes the files in."""
        k = self.staged % len(self.pool)
        name = f"f{self.staged:06d}.parquet"
        tmp = os.path.join(self.staging, name)
        shutil.copyfile(self.pool[k], tmp)
        t = self.t_base + self.staged
        os.utime(tmp, (t, t))
        os.rename(tmp, os.path.join(self.inbox, name))
        self.staged += 1
        return k

    def start(self) -> None:
        """Start the long-running query; it sees one file per trigger."""
        self.query = stream_pipeline(
            self.spark, self.inbox, schema=TOKENS_SCHEMA,
            checkpoint_dir=os.path.join(self.run_dir, "stream-checkpoint"),
            validate=ValidateStage(self.stats, self.sink["verdicts"],
                                   self.sink["violations"], dim=self.dim),
            score=ScoreStage(self.score, self.sink["scored"], alert_path=self.sink["alerts"],
                             threshold=ALERT_THRESHOLD,
                             keep_cols=["part", "doc_id", "n_tok", "source"]),
            available_now=False,
            max_files_per_trigger=1,
        )

    def _progress_of(self, batch_id: int) -> dict | None:
        """Progress of the non-empty trigger with this id; the engine
        records it just after the commit processAllAvailable waits for."""
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline:
            for p in self.query.recentProgress:
                if p["batchId"] == batch_id and p["numInputRows"] > 0:
                    return p
            time.sleep(0.01)
        return None

    def step(self) -> list[Sample]:
        """Stage one file and wait until its trigger has committed. The
        time is taken on the monotonic clock from the file's arrival in
        the inbox to the commit. The engine's ``triggerExecution`` comes
        from the wall clock and is not used: on a shared 4-core VM it once
        read 30.3 s for a trigger that returned in 5.4 s."""
        k = self.stage()
        batch_id = self.progress[-1]["batchId"] + 1 if self.progress else 0
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            self.query.processAllAvailable()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            p = self._progress_of(batch_id)
        except Exception as e:  # a failed trigger is a failed operation, not a crash
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            p, problems = None, [f"stream raised {e!r}"]
        else:
            problems = [] if p else [f"no progress for trigger {batch_id}"]
        sample = Sample(wall, cpu, FX.STREAM_FILE_ROWS, self.pool_tokens[k], problems)
        if p:
            self.progress.append(p)
            self.pending.append((p, k, sample))
        return [sample]

    def close(self) -> None:
        """Check every trigger's sink output, then stop the query."""
        try:
            problems = self.check()
        except Exception as e:  # unreadable sinks fail every trigger
            problems = [[f"sink check raised {e!r}"]] * len(self.pending)
        finally:
            self.query.stop()
        for (_, _, sample), found in zip(self.pending, problems):
            sample.problems += found

    def check(self) -> list[list[str]]:
        """Problems of each pending trigger: it read one whole file, and
        its sink output passes ``check_sinks``."""
        common = [f"trigger {p['batchId']} read {p['numInputRows']} rows"
                  for p, _, _ in self.pending if p["numInputRows"] != FX.STREAM_FILE_ROWS]
        return self.check_sinks(self.sink, [(p["batchId"], k) for p, k, _ in self.pending],
                                common)

    def check_sinks(self, sinks: dict, batches: list[tuple[int, int]],
                    common: list[str] = ()) -> list[list[str]]:
        """Problems of each (batch id, pool index) written to ``sinks``:
        one ``ingest_batch`` partition per batch in every sink, the
        closed-form hard-check counts of its file, and content hashes equal
        to the file's reference (the first batch of that file sets it)."""
        ids = [i for i, _ in batches]
        common = list(common)
        for s, path in sinks.items():
            parts = sorted(d for d in os.listdir(path) if d.startswith("ingest_batch="))
            if parts != sorted(f"ingest_batch={i}" for i in ids):
                common.append(f"sink {s} holds {parts} after batches {ids}")
        if common:
            return [common for _ in ids]
        viol = self.spark.read.parquet(sinks["violations"])
        verd = self.spark.read.parquet(sinks["verdicts"])
        got: dict[int, dict] = {i: {} for i in ids}
        for r in (viol.filter(F.col("check_name").isin(*sorted(HARD_CHECKS)))
                  .groupBy("ingest_batch", "check_name", "part").count().collect()):
            got[r["ingest_batch"]][(r["check_name"], r["part"])] = r["count"]
        v_hash = content_hash(viol, group="ingest_batch")
        d_hash = content_hash(verd, group="ingest_batch")
        out = []
        for i, k in batches:
            found = compare_counts(got[i], self.want[k], f"batch {i}")
            found += self.hashes.check(f"file{k}.violations", v_hash.get(str(i), "none"))
            found += self.hashes.check(f"file{k}.verdicts", d_hash.get(str(i), "none"))
            out.append(found)
        return out
