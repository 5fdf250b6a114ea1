"""Every process a run starts ends before the run does.

A run starts the Spark JVM (through ``spark-submit``), the JVM's
``pyspark.daemon`` and its forked Python workers (in a process group of
their own), and the output checker.  None of them dies at once with its
parent: the JVM and the checker leave on EOF on their stdin, the daemon
on EOF from the JVM.

``adopt_orphans`` makes this process the reaper of all of them, so a
descendant whose parent exits is re-parented here instead of to init;
``stop_all`` then stops and waits for every descendant.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def _prctl(option: int, arg: int) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(option, arg, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), f"prctl({option})")


def adopt_orphans() -> None:
    """Become the child subreaper of everything this process starts."""
    _prctl(_PR_SET_CHILD_SUBREAPER, 1)


def descendants() -> list[int]:
    """Every live descendant of this process, zombies included."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:  # exited while we looked
            continue
        parent[int(d)] = int(st[st.rindex(")") + 2:].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> None:
    for pid in descendants():
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop_gateway() -> None:
    """Let the Spark JVM exit on its own: close the py4j gateway and the
    JVM's stdin, whose EOF it waits for, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # a broken gateway: the JVM is stopped below anyway
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # still running: stop_all ends it
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def stop_all(grace_s: float = 10.0) -> None:
    """Wait ``grace_s`` for the descendants to exit, then SIGTERM them,
    then SIGKILL what is left, reaping until none remains (or, should a
    process not die even of SIGKILL, for another ``grace_s``)."""
    t0 = time.monotonic()
    step = 0
    while time.monotonic() - t0 < 3 * grace_s:
        _reap()
        if not descendants():
            return
        waited = time.monotonic() - t0
        if step == 0 and waited > grace_s:
            _signal_all(signal.SIGTERM)
            step = 1
        elif step == 1 and waited > 2 * grace_s:
            _signal_all(signal.SIGKILL)
            step = 2
        time.sleep(0.05)
