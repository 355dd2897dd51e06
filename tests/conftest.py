from __future__ import annotations

import contextlib
import os
import signal
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


class TimeoutExpired(Exception):
    """A ``@pytest.mark.timeout(seconds)`` test ran past its limit."""


@contextlib.contextmanager
def alarm_timeout(seconds: int, on_expiry=lambda: None):
    """Raise :class:`TimeoutExpired` in the main thread once ``seconds``
    have passed (SIGALRM). A blocking call interrupted by the alarm may
    surface its own error first (py4j wraps the interrupt), or the body
    may swallow it; either way the block ends in ``TimeoutExpired`` after
    ``on_expiry()`` has run outside the signal handler."""
    expired = False

    def _expire(signum, frame):
        nonlocal expired
        expired = True
        raise TimeoutExpired(f"exceeded the {seconds} s timeout")

    prev = signal.signal(signal.SIGALRM, _expire)
    signal.alarm(seconds)
    try:
        yield
    except Exception:
        if not expired:
            raise
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
    if expired:
        on_expiry()
        raise TimeoutExpired(f"exceeded the {seconds} s timeout")


def _stop_active_streams(spark) -> None:
    for q in (spark.streams.active if spark is not None else []):
        q.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "timeout(seconds): fail the test once it runs longer than "
        "`seconds` and stop the session's active streaming queries")


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    marker = item.get_closest_marker("timeout")
    if marker is None:
        return (yield)
    # the test's own session: after an interrupted py4j call the driver
    # thread's JVM-side active session is not reliably set
    spark = item.funcargs.get("spark")
    with alarm_timeout(int(marker.args[0]),
                       lambda: _stop_active_streams(spark)):
        return (yield)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("log-ship-elastic-postfix-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()
