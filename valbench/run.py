"""Benchmark of the autoprepad_spark validation engine.

    python3 valbench/run.py --workload suite_full --seed 1 --seconds 15 --trace 0

Runs one workload from the root of a source checkout on one in-process
Spark session at local[<cores>], as a closed loop with one client, for
about ``--seconds`` after set-up. Inputs come from ``--seed`` and are
built under ``.valbench/`` in the checkout on every run. With ``--trace 0`` the
end-to-end metrics are measured; with ``--trace 1`` the layers are
called one by one and the per-layer metrics reported (see README.md).

stdout: a ``{"detail": ...}`` line (host shape, samples, hashes, spans),
then, as the last line, ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".valbench")
sys.path.insert(0, ROOT)

from bench import _host_calibration  # noqa: E402
from valbench import host  # noqa: E402
from valbench import trace as T  # noqa: E402
from valbench import workloads as W  # noqa: E402
from valbench import fixtures as FX  # noqa: E402

#: token table rows, before the free-disk limit
TABLE_ROWS = 64_000
WORKLOADS = ("suite_full", "suite_resume_hotkey", "stream_ingest")


def _configure(cores: int, heap_mb: int) -> str:
    """Point every temporary file of Spark, the JVM and Python into the
    checkout, and make the package importable by Spark's Python workers
    whatever the working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    # a fixed-size, pre-touched heap keeps GC sizing and resident memory
    # from drifting between runs: an untouched heap's pages become
    # resident when a GC first writes them, which put peak memory ~1.3 GB
    # higher in about one run in eight; the collector is the session's
    # default
    os.environ["SPARK_JAVA_OPTS"] = (f"-XX:+UseParallelGC -Xms{heap_mb}m -XX:+AlwaysPreTouch "
                                     f"-Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return tmp


def _start_session(cores: int, tmp: str):
    from autoprepad_spark.session import get_spark

    return get_spark("valbench", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)


def _remove_stale_runs() -> None:
    """Delete scratch directories of runs whose process has ended."""
    for name in os.listdir(WORK):
        if name.startswith("run-") and name[4:].isdigit():
            try:
                os.kill(int(name[4:]), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
            except PermissionError:  # alive, owned by another user
                pass


def _tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or the maximum when there are not eleven samples."""
    s = sorted(values)
    if len(s) <= 10:
        return 100.0, s[-1]
    return 100.0 * (len(s) - 10) / len(s), s[len(s) - 11]


def _closed_loop(step, seconds: float) -> list:
    """Iterations for as long as the next one, if it takes as long as the
    last, still ends inside ``seconds``; at least one. A loop that only
    stops starting iterations once ``seconds`` have passed times a
    second, already faster suite_full call in just the runs whose first
    call ended early, and splits its runs in two (~500 vs ~400 CPU-s/Mrow
    on a shared 4-core VM)."""
    samples = []
    t0 = time.perf_counter()
    while not samples or time.perf_counter() - t0 + samples[-1].wall_s <= seconds:
        samples += step()
    return samples


def _end_to_end(samples: list, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    ok = [s for s in samples if not s.problems] or samples
    walls = [s.wall_s for s in ok]
    p50 = statistics.median(walls)
    pct, tail = _tail(walls)
    failed = sum(1 for s in samples if s.problems)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_s_p50": (p50, "s"),
        "latency_s_tail": (tail, "s"),
        "rows_per_s": (statistics.median(s.rows for s in ok) / p50, "rows/s"),
        "tokens_per_s": (statistics.median(s.tokens for s in ok) / p50, "tokens/s"),
        "cpu_s_per_mrow": (1e6 * sum(s.cpu_s for s in samples) / sum(s.rows for s in samples),
                           "s/Mrow"),
        "peak_rss_mb": (peak_mb, "MB"),
        "ops_ok_frac": (1 - failed / len(samples), "ratio"),
    }
    detail = {"walls_s": walls, "tail_percentile": pct, "tail_samples": len(walls)}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


def _traced(wl, tracer: T.Tracer, seconds: float) -> tuple[list, list, list]:
    """Alternate one untraced and one traced operation until the time is
    up, so both see the same host. Returns (untraced samples, traced
    samples, one dict of layer metrics per traced operation)."""
    untraced, traced, layer_rows = [], [], []
    batches = []  # stream: (batch id, pool index) of each traced batch that returned
    end = time.perf_counter() + seconds
    while not (untraced and traced) or time.perf_counter() < end:
        if len(untraced) <= len(traced):
            untraced += wl.step()
            continue
        try:
            if isinstance(wl, W.Stream):
                k = len(traced) % len(wl.pool)
                got, total = T.stream_batch(tracer, wl, k, batch_id=len(traced))
                batches.append((len(traced), k))
                problems = []
            else:
                got, total, problems = T.suite_iteration(tracer, wl)
        except Exception as e:  # counted as a failed operation
            got, total, problems = None, 0.0, [f"traced operation raised {e!r}"]
        traced.append(W.Sample(total, 0.0, 0, 0, problems))
        if got:
            layer_rows.append({**got, "_sum": total})
    if batches:
        try:
            found = wl.check_sinks(wl.traced_sink, batches)
        except Exception as e:  # unreadable sinks fail every traced batch
            found = [[f"traced sink check raised {e!r}"]] * len(batches)
        for (i, _), problems in zip(batches, found):
            traced[i].problems += problems
    return untraced, traced, layer_rows


def _layer_metrics(wl, profile: dict | None, session_s: float, untraced: list,
                   layer_rows: list) -> dict:
    """Per-layer medians; a layer the workload does not run reads 0."""
    layers = {k: 0.0 for k in T.LAYER_METRICS}
    layers["session.start_s"] = session_s
    if isinstance(wl, W.Stream):
        layers.update({
            "profile.fit_s": profile["s"], "profile.cpu_s": profile["cpu_s"],
            "profile.input_bytes_per_row": profile["input_bytes"] / FX.SMALL_ROWS,
        })
        med = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in wl.progress)  # noqa: E731
        layers.update({
            "stream.add_batch_s": med("addBatch") / 1000,
            "stream.query_planning_s": med("queryPlanning") / 1000,
            "stream.wal_commit_s": med("walCommit") / 1000,
            "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in wl.progress),
        })
    else:
        layers["uniqueness.confirm_ratio"] = T.confirm_ratio(wl.spark.read.parquet(wl.table))
    if layer_rows:
        med = T.medians(layer_rows)
        span_sum = med.pop("_sum")
        layers.update(med)
        walls = [s.wall_s for s in untraced if not s.problems] or [s.wall_s for s in untraced]
        p50 = statistics.median(walls)
        layers["trace.overhead_frac"] = (span_sum - p50) / p50
    return {k: {"value": v, "unit": T.LAYER_METRICS[k]} for k, v in layers.items()}


def run(args) -> tuple[dict, dict]:
    cores = args.cores or host.cores()
    heap_mb = host.heap_mb()
    os.makedirs(WORK, exist_ok=True)
    rows = host.fixture_rows(args.rows, WORK)
    shape = {"cores": cores, "heap_mb": heap_mb, "rows": rows,
             "mem_available_mb": host.mem_available_mb(),
             "calib_s": _host_calibration()}
    tmp = _configure(cores, heap_mb)
    _remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)

    t0 = time.perf_counter()
    spark = _start_session(cores, tmp)
    session_s = time.perf_counter() - t0
    try:
        if args.workload == "stream_ingest":
            wl = W.Stream(spark, WORK, run_dir, args.seed)
        else:
            wl = W.Suite(spark, WORK, run_dir, args.seed, rows,
                         resume=args.workload == "suite_resume_hotkey")
        tracer = T.Tracer(spark) if args.trace else None
        t0 = time.perf_counter()
        wl.prepare(tracer)
        prepare_s = time.perf_counter() - t0
        profile = tracer.spans.get("profile") if tracer else None

        rss = host.RssPeak().start()
        t0 = time.perf_counter()
        if isinstance(wl, W.Stream):
            wl.start()  # the query's start-up is set-up, like the session's
        warm = [s for _ in range(wl.WARMUP) for s in wl.step()]
        if isinstance(wl, W.Stream):
            warm_s = time.perf_counter() - t0
        else:
            warm_s = sum(s.wall_s for s in warm)
        if args.trace:
            samples, traced, layer_rows = _traced(wl, tracer, args.seconds)
        else:
            samples = _closed_loop(wl.step, args.seconds)
        wl.close()
        peak_mb = rss.stop()
        if args.trace:
            metrics = _layer_metrics(wl, profile, session_s, samples, layer_rows)
            detail = {"spans": tracer.spans}
            samples += traced
        else:
            metrics, detail = _end_to_end(samples, session_s + warm_s, peak_mb)
        hashes = wl.hashes.ref
    finally:
        _stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for s in samples if s.problems)
    problems = [p for s in warm + samples for p in s.problems]
    detail.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": shape,
        "session_s": session_s, "prepare_s": prepare_s, "warmup_s": warm_s,
        "hashes": hashes, "problems": problems[:20],
    })
    result = {"correct": not problems, "attempted": len(samples), "failed": failed,
              "metrics": metrics}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=TABLE_ROWS,
                    help="token table rows before the free-disk limit")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] threads (default: the cores this process may use)")
    args = ap.parse_args(argv)
    result, detail = run(args)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
