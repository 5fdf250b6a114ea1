"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_backfill --seed 1 --seconds 8 --trace 0

Run from the root of a source tree.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``, the end-to-end metrics with ``--trace 0`` and the
per-layer metrics with ``--trace 1``.  Exits 1 when an output check
fails and 2 when the program under test is missing.  Scratch data lives
under ``.perfbench_work/<pid>/`` in the tree and is removed at exit; a
traced run leaves its spans in ``.perfbench_work/spans/``.  Every
process the run starts has ended when it exits, on SIGTERM too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_backfill", "batch_queries")
# each workload's own random stream under a seed; 1 is the live phase of
# the traced stream_backfill run
SEED_STREAM = {"stream_backfill": 0, "stream_live": 1, "batch_queries": 2}
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "cold_cpu_s": "s", "warm_cpu_s": "s"}


def _prepare_env(work: str, n: int) -> None:
    """Pin every knob the program reads from the environment, so that of
    the caller's surroundings only the core count reaches the program."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included, keeps its files in the tree
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")


def workload_rng(name: str, seed: int):
    import numpy as np

    return np.random.default_rng([seed, SEED_STREAM[name]])


def run_workload(b, name: str, seed: int, seconds: int) -> dict:
    """The workload, then (but not in the traced pass of a traced run)
    its set-up samples."""
    from perfbench import batch, stream

    mod = {"stream_backfill": stream, "batch_queries": batch}[name]
    fn = stream.backfill if mod is stream else batch.run
    res = fn(b, workload_rng(name, seed), seconds)
    if b.tracer is None:
        res["e2e"]["setup_s"] = mod.warm_setup_s(b)
    res["e2e"]["peak_rss_mb"] = b.peak_rss_mb()
    return res


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)  # runs the clean-up in main's finally


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import bitquery_kafka_streams_rust_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import procs
    from perfbench.check import Checker
    from perfbench.common import Bench, cores

    procs.adopt_orphans()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    _prepare_env(work, cores())
    b = Bench(ROOT, work)
    try:
        b.checker = Checker()
        if a.trace:
            from perfbench import trace

            res = trace.traced_run(b, a.workload, a.seed, a.seconds, run_workload,
                                   workload_rng("stream_live", a.seed))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
        else:
            res = run_workload(b, a.workload, a.seed, a.seconds)
            metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in UNITS.items()}
        for e in res["errors"]:
            print(f"perfbench: output check failed: {e}", file=sys.stderr)
        correct = not res["errors"]
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0 if correct else 1
    finally:
        for sig in (signal.SIGTERM, signal.SIGHUP):  # let the clean-up finish
            signal.signal(sig, signal.SIG_IGN)
        for step in (b.stop_spark, b.checker and b.checker.close, procs.stop_gateway):
            try:
                if step:
                    step()
            except Exception as e:  # the processes are stopped below anyway
                print(f"perfbench: clean-up: {e!r}", file=sys.stderr)
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):  # nothing kept (spans are kept by --trace 1)
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
