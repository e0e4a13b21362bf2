"""Run context shared by the workloads: session, spans and checks.

Every workload is a closed loop with one client: the next operation is
issued only after the previous one returned.  Spans are kept in memory
and folded against the event log once the session has stopped.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

from eventlog import Span, SpanStats, find_log, fold, parse

SETUPS = 3  # set-ups per run; setup_s is their median


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (the same rule as numpy's default)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Run:
    """One benchmark run: arguments, scratch space, session, spans, checks."""

    seed: int
    seconds: float
    trace: bool
    work_dir: str
    cores: int
    spans: list[Span] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    spark: object = None
    log_dir: str | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time()))

    def op(self, ok: bool, what: str) -> None:
        """Count one operation or output check; a wrong output counts as
        a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def start_session(self, traced: bool = False):
        """Start the engine's session on local[cores].  A traced session
        writes an uncompressed event log under the run's scratch dir."""
        from ts_process_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
        }
        if traced:
            self.log_dir = self.path("eventlog")
            shutil.rmtree(self.log_dir, ignore_errors=True)
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.log_dir,
                # keep table directories whole in scan descriptions, so
                # scans can be told apart by the directory they read
                "spark.sql.maxMetadataStringLength": "1000",
            })
        self.spark = get_spark(
            "perfbench", cores=self.cores, shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        return self.spark

    def stop_session(self, end_jvm: bool = False) -> None:
        """Stop the session.  PySpark keeps its JVM across sessions;
        ``end_jvm`` ends it too and waits for it to exit."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if end_jvm:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                # the JVM exits when its stdin closes
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=120)
                SparkContext._gateway = None
                SparkContext._jvm = None

    def timed_setups(self, prepare) -> tuple[float, object]:
        """Set up SETUPS times: start the session, then ``prepare()``.
        Returns the median wall and the last set-up's result, whose
        session stays open.  The first set-up also starts the JVM, which
        the later ones share (see ``stop_session``), so the median is
        that of a session start in a running JVM plus the input."""
        walls, out = [], None
        for i in range(SETUPS):
            if i:
                self.stop_session()
            start = time.time()
            self.start_session()
            out = prepare()
            walls.append(time.time() - start)
        return median(walls), out

    def fold_trace(self, spans: list[Span]) -> list[SpanStats]:
        """Stop the traced session and attribute its event log to spans."""
        self.stop_session()
        return fold(parse(find_log(self.log_dir)), spans)
