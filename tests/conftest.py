from __future__ import annotations

import signal
import sys
import threading
from pathlib import Path

import pytest

# the repo root (package + __spark_entry__) and jobs/ (job scripts
# imported as modules), derived from this file so any checkout works
REPO = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(REPO), str(REPO / "jobs")]

from bitquery_kafka_streams_rust_spark.session import get_spark  # noqa: E402

# Per-test watchdog (pytest-timeout is not in the sandbox): a streaming
# query that never drains (e.g. a timer-driven micro-batch spin) must
# fail ONE test, not wedge the whole suite.  SIGALRM interrupts the
# blocking py4j socket read; override per-test with
# @pytest.mark.watchdog_timeout(seconds).
WATCHDOG_DEFAULT_S = 600


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "watchdog_timeout(seconds): per-test wall-clock limit"
    )


@pytest.fixture(autouse=True)
def _watchdog(request):
    if threading.current_thread() is not threading.main_thread():
        yield
        return
    marker = request.node.get_closest_marker("watchdog_timeout")
    limit = int(marker.args[0]) if marker and marker.args else WATCHDOG_DEFAULT_S
    fired = []

    def _on_alarm(signum, frame):
        fired.append(True)
        raise TimeoutError(
            f"watchdog: {request.node.nodeid} exceeded {limit}s wall clock"
        )

    old = signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(limit)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
        if fired:
            # The TimeoutError interrupted a py4j socket read mid-reply:
            # that connection may still carry the stale JVM response and
            # would poison the NEXT test's first call.  Drop the pooled
            # connections (fresh ones reopen lazily), then stop whatever
            # streaming queries / jobs the dead test left running.
            try:
                from pyspark.sql import SparkSession

                s = SparkSession.getActiveSession()
                if s is not None:
                    s.sparkContext._gateway._gateway_client.close()
                    for q in s.streams.active:
                        try:
                            q.stop()
                        except Exception:
                            pass
                    s.sparkContext.cancelAllJobs()
            except Exception:
                pass


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF
