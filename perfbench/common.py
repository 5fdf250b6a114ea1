"""Session, timing and statistics helpers shared by the workloads."""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from datetime import datetime

# setup_s is the median CPU time of this many set-ups in a run, all in a
# JVM that is already up: the first set-up of a run launches the JVM, and
# that one counts in cold_cpu_s
SETUP_SAMPLES = 5
# HotSpot's JIT compiler and garbage collector threads (by the first 15
# characters of their names, as /proc shows them).  They work in the
# background on what earlier work left them, so a set-up's CPU time
# leaves them out; their cost counts in cold_cpu_s and warm_cpu_s
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ",
                       "VM Thread", "VM Periodic Tas")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile; ``q`` in [0, 1]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM and its Python workers), including what they
    used in children they have reaped.  Time the hypervisor steals from
    the machine is not in it, which is why it holds still on a shared
    host where wall time does not."""
    return _tree_cpu_ticks()[0] / os.sysconf("SC_CLK_TCK")


def _tree_cpu_ticks() -> tuple[int, list[int]]:
    """CPU clock ticks of the process tree, and the tree's pids."""
    usage, parent = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:  # exited while we looked
            continue
        fields = st[st.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        usage[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    total, pids, todo = 0, [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        total += usage.get(pid, 0)
        todo += kids.get(pid, [])
    return total, pids


def _jvm_service_cpu_ticks(pids) -> int:
    total = 0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        if len(tids) < 2:  # single-threaded: not the JVM
            continue
        for t in tids:
            try:
                with open(f"/proc/{pid}/task/{t}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            if st[st.index("(") + 1:st.rindex(")")].startswith(JVM_SERVICE_THREADS):
                fields = st[st.rindex(")") + 2:].split()
                total += int(fields[11]) + int(fields[12])  # utime stime
    return total


def setup_cpu_s() -> float:
    """``tree_cpu_s`` less what the JVM's JIT compiler and GC threads
    have used; take differences of it around a set-up."""
    total, pids = _tree_cpu_ticks()
    return (total - _jvm_service_cpu_ticks(pids)) / os.sysconf("SC_CLK_TCK")


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def log_offset(progress: dict) -> int | None:
    """End offset of the file source in one progress record."""
    srcs = progress.get("sources") or []
    if not srcs:
        return None
    off = srcs[0].get("endOffset")
    if isinstance(off, str):
        try:
            off = json.loads(off)
        except ValueError:  # no offset yet
            return None
    return int(off["logOffset"]) if isinstance(off, dict) else None


class Bench:
    """One benchmark run: the scratch directory, the session factory
    and the peak-memory probe.  ``root`` is the program's source tree."""

    def __init__(self, root: str, work: str):
        self.root = root
        self.work = work
        self.n = cores()
        self.master = f"local[{self.n}]"
        self.event_dir = os.path.join(work, "eventlog")
        self._jvm_hwm_kb = 0
        self.spark = None
        self.tracer = None  # set for the traced pass of a traced run
        self.checker = None  # check.Checker, the output checks' own process
        self.get_spark_s: list[float] = []  # every get_spark call, in order

    def session_conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer is not None:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def get_spark(self, master: str | None = None, **kw):
        """Timed call into ``session.get_spark``; returns (spark, seconds)."""
        from bitquery_kafka_streams_rust_spark.session import get_spark

        span = self.tracer.span("get_spark") if self.tracer else None
        t0 = time.perf_counter()
        spark = get_spark(master=master or self.master, extra_conf=self.session_conf(), **kw)
        dt = time.perf_counter() - t0
        self.spark = spark
        self.get_spark_s.append(dt)
        if span:
            span.close()
            self.tracer.on_session(spark)
        return spark, dt

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.sample_rss()
            self.spark.stop()
            self.spark = None

    def sample_rss(self) -> None:
        """Record the JVM's VmHWM while its process is still known."""
        if self.spark is None:
            return
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    self._jvm_hwm_kb = max(self._jvm_hwm_kb, int(line.split()[1]))

    def peak_rss_mb(self) -> float:
        self.sample_rss()
        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (self._jvm_hwm_kb + driver_kb) / 1024.0
