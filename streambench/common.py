"""Run context shared by the workloads: the Spark session, timed layer
calls, failure counts, peak memory and the metric table."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from spans import Tracer, percentile

def _descendants(root: int) -> set[int]:
    """``root`` and every live process below it (the Spark JVM and the
    Python workers it forks), from /proc."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parents[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, parent in parents.items():
            if parent == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def peak_rss_mb() -> float:
    """Peak resident memory of this process and the live processes below
    it: the sum of each one's high-water mark (``VmHWM``), which the
    kernel keeps, so nothing samples while the run is timed."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


class Bench:
    """One benchmark run: arguments, scratch directory, tracer, timed
    layer calls and the metrics the run reports."""

    def __init__(self, seed: int, seconds: int, trace: bool,
                 work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.times: dict[str, list[float]] = {}
        self.attempts: dict[str, int] = {}
        self.failures: dict[str, int] = {}
        self.metrics: dict[str, tuple[float, str]] = {}
        self.spark = None
        # the stream sink and foreachBatch bodies run on a callback thread
        self._lock = threading.Lock()

    def _count(self, table: dict[str, int], layer: str) -> None:
        with self._lock:
            table[layer] = table.get(layer, 0) + 1

    # -- layer calls --------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """Time one call into a layer (``layer.call``), count it as an
        attempt of that layer, and count it failed if it raises."""
        layer = name.split(".", 1)[0]
        self._count(self.attempts, layer)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        except BaseException:
            self._count(self.failures, layer)
            raise
        with self._lock:
            self.times.setdefault(name, []).append(time.perf_counter() - t0)

    def fail(self, layer: str, message: str) -> None:
        """Count an attempt of ``layer`` that produced a wrong result."""
        self._count(self.attempts, layer)
        self._count(self.failures, layer)
        print(f"FAILED {layer}: {message}", file=sys.stderr, flush=True)

    def passed(self, layer: str) -> None:
        self._count(self.attempts, layer)

    def total(self, name: str) -> float:
        return sum(self.times.get(name, []))

    def median(self, name: str) -> float:
        return statistics.median(self.times[name]) if name in self.times \
            else 0.0

    # -- metrics ------------------------------------------------------------

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def put_pcts(self, name: str, values, unit: str, scale: float = 1.0,
                 pcts=(50, 90)) -> None:
        for q in pcts:
            self.put(f"{name}_p{q}", percentile(values, q) * scale
                     if values else 0.0, unit)

    # -- session ------------------------------------------------------------

    def start_session(self, master: str | None = None):
        """Start the engine's session and run one trivial action; their
        times are ``session.start_s`` and ``session.warmup_s``."""
        from kafka_connect_msk_demo_spark.session import get_spark

        with self.op("session.start"):
            self.spark = get_spark("streambench", master=master)
        with self.op("session.warmup"):
            self.spark.range(64).selectExpr("sum(id)").collect()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.put("session.start_s", self.total("session.start"), "s")
        self.put("session.warmup_s", self.total("session.warmup"), "s")
        return self.spark

    def session_setup_s(self) -> float:
        return self.total("session.start") + self.total("session.warmup")
