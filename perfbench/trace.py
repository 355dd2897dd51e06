"""Spans recorded by the benchmark around calls into the program, the
timing store subclasses that put spans on ``StateStore.upsert`` and
``BookmarkStore.commit``, a peak-memory sampler for the process tree,
and the session stop that waits for every process it started.

Spans stay in memory; the run reads them when it ends. Each span keeps
wall-clock start and end (seconds since the epoch, to line up with the
Spark event log's millisecond timestamps) and a monotonic duration.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator


@dataclass
class Span:
    name: str
    start: float      # wall clock, s
    end: float        # wall clock, s
    dur: float        # monotonic, s


class Spans:
    def __init__(self) -> None:
        self.records: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        w0, m0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self.records.append(Span(name, w0, time.time(),
                                     time.perf_counter() - m0))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.records if s.name == name]

    def within(self, name: str, start: float, end: float) -> list[Span]:
        """Spans called ``name`` inside the wall-clock interval."""
        return [s for s in self.named(name)
                if s.start >= start and s.end <= end]


def timed_stores(spans: Spans):
    """StateStore / BookmarkStore subclasses that record a span per
    ``upsert`` / ``commit`` call; ``run_batch`` takes them as its
    ``state`` and ``bookmark`` arguments."""
    from log_ship_elastic_postfix_spark.operators.state import StateStore
    from log_ship_elastic_postfix_spark.sources.bookmark import BookmarkStore

    class TimedStateStore(StateStore):
        def upsert(self, spark, incoming, detect_noop=True):
            with spans.span("operators.state.upsert"):
                return super().upsert(spark, incoming,
                                      detect_noop=detect_noop)

    class TimedBookmarkStore(BookmarkStore):
        def commit(self, batch_seq, manifest):
            with spans.span("sources.bookmark.commit"):
                return super().commit(batch_seq, manifest)

    return TimedStateStore, TimedBookmarkStore


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> set[int]:
    kids = _children()
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.add(k)
            todo.append(k)
    return out


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the Spark session, then end the JVM it launched and wait
    until every process started under this one has exited."""
    pids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"}
        if not pids:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def tree_rss_bytes(root: int) -> int:
    """Summed VmRSS of ``root`` and its descendants. (``VmRSS`` is a
    counter; a proportional size from ``smaps_rollup`` would walk the
    JVM's page tables under its memory-map lock on every sample and
    slow the run it measures.)"""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the whole process tree's resident memory on a thread
    until stopped; ``peak`` is the largest sum held over two samples in
    a row. In some runs, one sample taken while the JVM spawns a
    command reads about the JVM's whole resident size more than the
    processes hold a moment later; a peak that must hold for two
    samples leaves such a one-sample reading out."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        last = 0
        while not self._stop.is_set():
            now = tree_rss_bytes(me)
            self.peak = max(self.peak, min(last, now))
            last = now
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
