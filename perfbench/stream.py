"""The stream workload and the live phase of its traced run.  Streams
are built exactly as ``jobs/run_pipeline.py`` builds them:
``parse_args`` -> ``build_config`` -> ``start_pipeline`` with the events
query plus the rollup query and the session's default (RocksDB) state
store."""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import shutil
import threading
import time

import numpy as np
from pyspark.errors import StreamingQueryException

from . import check, gen
from .common import (SETUP_SAMPLES, iso_to_epoch, log_offset, median, progress_dicts,
                     quantile, setup_cpu_s, tree_cpu_s)

ALLOWED = gen.SOURCES[:5]  # the rarest source falls outside the allowlist: gate drops
MIN_N_TOK = 16

# stream_backfill: 8 files drained 4 per trigger make two epochs of 3200
# rows (~1.3 M tokens each)
BACKFILL_FILES, BACKFILL_ROWS, BACKFILL_MEAN_TOK, BACKFILL_FPT = 8, 800, 400, 4
# the first drain is the cold one; one warm drain's CPU varied by ~12%
# run to run on a 4-core box, so warm_cpu_s is the median of two
MIN_DRAINS, MAX_DRAINS = 3, 8

# live phase: small files, one per 500 ms trigger, dropped on an open-loop
# schedule at half the pipeline's capacity.  Capacity, measured on a
# 4-core box: 12 such files queued at once and drained by the running
# pipeline (rollup on) took 1.43 s a file until both queries had
# committed them all, so a file every 2.9 s keeps the box about half busy
LIVE_ROWS, LIVE_MEAN_TOK = 400, 200
LIVE_WARMUP_FILES = 2  # the pipeline's first epochs: planning, state-store open
LIVE_FILES = 4
# 2.9 s is not a multiple of the 500 ms trigger grid, so successive drops
# land 0.1 s earlier on it each time and every fifth drop repeats the
# phase: latency samples cover the grid evenly instead of sharing one phase
LIVE_PERIOD_S = 2.9
TRIGGER_S = 0.5
LIVE_DRAIN_DEADLINE_S = 20.0


def _run_pipeline_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(root, "jobs", "run_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Pipeline:
    """parse_args -> build_config -> start_pipeline, as the job does."""

    def __init__(self, bench, in_dir: str, continuous: bool, files_per_trigger: int):
        self.b = bench
        self.rp_mod = _run_pipeline_module(bench.root)
        self.in_dir = in_dir
        self.continuous = continuous
        self.fpt = files_per_trigger

    def start(self, run_dir: str, master: str | None = None,
              shuffle_partitions: int | None = None):
        """Returns (spark, running pipeline, set-up CPU seconds)."""
        from bitquery_kafka_streams_rust_spark.streaming import pipeline as P

        argv = ["--input", self.in_dir, "--checkpoint", f"{run_dir}/ck",
                "--output", f"{run_dir}/out", "--sources", *ALLOWED,
                "--min-n-tok", str(MIN_N_TOK), "--max-files-per-trigger", str(self.fpt),
                "--master", master or self.b.master]
        if self.continuous:
            argv.append("--continuous")
        c0 = setup_cpu_s()
        a = self.rp_mod.parse_args(argv)
        spark, _ = self.b.get_spark(master=a.master, shuffle_partitions=shuffle_partitions)
        cfg = self.rp_mod.build_config(a, spark)
        span = self.b.tracer.span("start_pipeline") if self.b.tracer else None
        rp = P.start_pipeline(spark, a.input, cfg, with_rollup=True,
                              available_now=not a.continuous, with_quarantine=a.quarantine)
        if span:
            span.close()
        return spark, rp, setup_cpu_s() - c0


def source_log(ck_dir: str) -> dict[str, int]:
    """File name -> the file source's log batchId that admitted it."""
    out = {}
    for p in glob.glob(os.path.join(ck_dir, "events", "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def epoch_figures(progress: list[dict]) -> list[dict]:
    """Per data-bearing epoch: its source log offset, commit time and phases."""
    out = []
    for p in progress:
        d = p.get("durationMs") or {}
        if not p.get("numInputRows") or "triggerExecution" not in d:
            continue
        out.append({
            "log_offset": log_offset(p),
            "commit_t": iso_to_epoch(p["timestamp"]) + d["triggerExecution"] / 1000.0,
            "durations": d,
        })
    return out


def backfill(b, rng: np.random.Generator, seconds: int) -> dict:
    """Drain a backlog with the availableNow trigger, repeatedly, each
    drain in a fresh session with fresh checkpoint and output dirs."""
    in_dir = os.path.join(b.work, "backfill_in")
    paths = gen.write_spine(rng, in_dir, BACKFILL_FILES, BACKFILL_ROWS, BACKFILL_MEAN_TOK)
    ref = b.checker(check.stream_reference, paths, ALLOWED, MIN_N_TOK)
    pipe = Pipeline(b, in_dir, continuous=False, files_per_trigger=BACKFILL_FPT)
    n_input = BACKFILL_FILES * BACKFILL_ROWS
    drains, errors, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    i = 0
    while i < MIN_DRAINS or (time.perf_counter() < t_end and i < MAX_DRAINS):
        run_dir = os.path.join(b.work, f"drain{i}")
        span = b.tracer.span("drain", i=i) if b.tracer else None
        c0 = tree_cpu_s()
        spark, rp, _ = pipe.start(run_dir)
        t0 = time.perf_counter()
        try:
            rp.process_all()
        except StreamingQueryException as e:
            errors.append(f"drain {i}: {str(e)[:200]}")
        wall = time.perf_counter() - t0
        epochs = epoch_figures(progress_dicts(rp.events_query))
        rp.stop()
        cpu = tree_cpu_s() - c0
        # a file the events query did not commit is a failed operation
        done = max((e["log_offset"] for e in epochs), default=-1)
        failed += BACKFILL_FILES - sum(
            1 for v in source_log(os.path.join(run_dir, "ck")).values() if v <= done)
        errors += b.checker(check.stream_check, ref, os.path.join(run_dir, "out", "events"))
        b.stop_spark()
        if span:
            span.close()
        drains.append({"wall_s": wall, "epochs": epochs, "cpu_s": cpu})
        shutil.rmtree(run_dir, ignore_errors=True)
        i += 1
    # the first drain runs in a JIT-cold JVM: it gives the cold epoch, the
    # later ones the warm figures
    warm = drains[1:]
    walls = [d["wall_s"] for d in warm]
    return {
        "e2e": {
            "cold_cpu_s": drains[0]["cpu_s"],
            "warm_cpu_s": median([d["cpu_s"] for d in warm]),
        },
        "layers": {
            "bench.backfill_first_epoch_s":
                drains[0]["epochs"][0]["durations"]["triggerExecution"] / 1000.0,
            "bench.backfill_seq_per_s": n_input / median(walls),
        },
        "attempted": BACKFILL_FILES * len(drains),
        "failed": failed,
        "errors": errors,
        "ref": ref,
        "n_input": n_input,
    }


def warm_setup_s(b) -> float:
    """setup_s: the median CPU seconds of ``SETUP_SAMPLES`` set-ups in a
    JVM that is already up.  Each starts the backfill pipeline over an
    empty directory, so that no data is processed while it is timed, and
    stops it at once."""
    pipe = Pipeline(b, os.path.join(b.work, "setup_in"), False, BACKFILL_FPT)
    os.makedirs(pipe.in_dir, exist_ok=True)
    samples = []
    for i in range(SETUP_SAMPLES):
        run_dir = os.path.join(b.work, f"setup{i}")
        _, rp, setup = pipe.start(run_dir)
        samples.append(setup)
        rp.stop()
        b.stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    return median(samples)


def one_core_drain(b, in_dir: str) -> float:
    """process_all wall of one drain on ``local[1]`` with the n-core
    shuffle layout: the single-thread baseline of the same plan."""
    pipe = Pipeline(b, in_dir, continuous=False, files_per_trigger=BACKFILL_FPT)
    run_dir = os.path.join(b.work, "drain_1core")
    spark, rp, _ = pipe.start(run_dir, master="local[1]", shuffle_partitions=b.n)
    t0 = time.perf_counter()
    rp.process_all()
    wall = time.perf_counter() - t0
    rp.stop()
    b.stop_spark()
    shutil.rmtree(run_dir, ignore_errors=True)
    return wall


class Dropper(threading.Thread):
    """Open-loop generator: moves pre-written files into the source
    directory at fixed times, whatever the pipeline is doing."""

    def __init__(self, files: list[str], dest: str, t0: float, period: float):
        super().__init__(daemon=True)
        self.files, self.dest, self.t0, self.period = files, dest, t0, period
        self.drops: list[tuple[str, float, float]] = []  # (name, scheduled, actual)

    def run(self) -> None:
        for k, f in enumerate(self.files):
            due = self.t0 + k * self.period
            time.sleep(max(0.0, due - time.time()))
            _drop(f, self.dest)
            self.drops.append((os.path.basename(f), due, time.time()))


def _drop(path: str, dest: str) -> None:
    os.rename(path, os.path.join(dest, os.path.basename(path)))  # atomic on one filesystem


def _committed_offset(rp) -> int:
    p = rp.events_query.lastProgress
    if not p:
        return -1
    off = log_offset(json.loads(p.json))
    return -1 if off is None else off


def _wait_committed(rp, ck: str, names: set[str], deadline: float) -> bool:
    while time.time() < deadline:
        log = source_log(ck)
        if names <= set(log):
            off = _committed_offset(rp)
            if all(log[n] <= off for n in names):
                return True
        time.sleep(0.05)
    return False


def live(b, rng: np.random.Generator) -> dict:
    """The ``--continuous`` path (processingTime 500 ms, one file per
    trigger) under an open-loop file arrival schedule, in a JVM that is
    already up.  After the warm-up files the scheduled files follow."""
    n_meas, n_warm = LIVE_FILES, LIVE_WARMUP_FILES
    src_dir = os.path.join(b.work, "live_in")
    run_dir = os.path.join(b.work, "live")
    ck = os.path.join(run_dir, "ck")
    os.makedirs(src_dir)
    paths = gen.write_spine(rng, os.path.join(b.work, "live_stage"), n_warm + n_meas,
                            LIVE_ROWS, LIVE_MEAN_TOK)
    ref = b.checker(check.stream_reference, paths, ALLOWED, MIN_N_TOK)
    pipe = Pipeline(b, src_dir, continuous=True, files_per_trigger=1)
    spark, rp, _ = pipe.start(run_dir)
    for f in paths[:n_warm]:  # excluded from latency
        _drop(f, src_dir)
        _wait_committed(rp, ck, {os.path.basename(f)}, time.time() + 60)
    # processingTime triggers fire on wall-clock multiples of the interval
    t0 = (int(time.time() / TRIGGER_S) + 2) * TRIGGER_S + 0.05
    dropper = Dropper(paths[n_warm:], src_dir, t0, LIVE_PERIOD_S)
    dropper.start()
    dropper.join()
    names = {os.path.basename(p) for p in paths}
    _wait_committed(rp, ck, names, time.time() + LIVE_DRAIN_DEADLINE_S)
    prog = progress_dicts(rp.events_query)
    rp.stop()
    log = source_log(ck)
    errors = b.checker(check.stream_check, ref, os.path.join(run_dir, "out", "events"))
    b.stop_spark()
    epochs = epoch_figures(prog)
    commit_at = {e["log_offset"]: e["commit_t"] for e in epochs}
    lat = [commit_at[log[n]] - due for n, due, _ in dropper.drops
           if log.get(n) in commit_at]
    # a file not committed by the drain deadline is a failed operation
    failed = sum(1 for n in names if log.get(n) not in commit_at)
    commits = [commit_at[log[n]] for n, _, _ in dropper.drops if log.get(n) in commit_at]
    backlog = max(sum(1 for _, _, a in dropper.drops if a <= t)
                  - sum(1 for c in commits if c <= t) for _, _, t in dropper.drops)
    return {
        "layers": {
            "bench.live_latency_p50_s": median(lat),
            "bench.live_latency_p90_s": quantile(lat, 0.9),
            "bench.live_latency_samples": len(lat),
            "bench.gen_lag_max_s": max(a - d for _, d, a in dropper.drops),
            "streaming.source.backlog_files_max": backlog,
        },
        "attempted": len(paths),
        "failed": failed,
        "errors": errors,
    }
