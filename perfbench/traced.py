"""The traced run (``--trace 1``): per-layer numbers for every layer.

Whichever workload is named, a traced run measures the layers of both
workloads, so that every per-layer metric is a measured value on every
workload (a layer that a workload left idle would otherwise read a
constant 0).  One session:

1. sets up and warms up the backfill workload: its input and the
   reference cascade pass;
2. runs two more cascade passes, with a span around each tier.

The run makes two such sessions, each in a process and JVM of its own:
first a plain one, then one with Spark's event log on.
``tracing_overhead`` is the wall of step 2 in the traced session ÷ its
wall in the plain one − 1: both sessions run the same code on the same
input from a fresh JVM, so what differs is the event log.  The traced
session goes on with one backfill + verify and 50 tier reads (40 of them
warm-up), then sets up the queries workload (tables, oracle pass) and
runs one pass over its leaves, all in spans, and folds its event log
against the spans.  The plain session stops after step 2, so that the
run stays well inside its time limit.

    python3 perfbench/traced.py <work_dir> <seed>

runs the plain session alone (the run starts it so) and writes its
result to ``<work_dir>/plain.json``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import workload_backfill as wb
import workload_queries as wq
from harness import Run

READS = 10
# fewer than the untraced run's, to keep a traced run well inside 180 s
WARM_READS = 40
CHILD_TIMEOUT_S = 150


def session(run: Run, repo_root: str, traced: bool) -> dict:
    """A session of ``run``: the layer metrics when ``traced``, else only
    the wall of step 2."""
    t0 = time.time()
    run.start_session(traced=traced)
    session_s = time.time() - t0
    bf = wb.make_input(run, wb.datagen_seed(run.seed))
    wb.warm_up(run, bf)

    mark = len(run.spans)
    start = time.time()
    # the second and third passes of the session: the second alone still
    # sits on the steep part of the warm-up and spread too much
    wb.cascade_pass(run, bf["raw"], run.path("cascade_2"), "pass2")
    cascade = wb.traced_cascade(run, bf)
    pass_s = time.time() - start
    if not traced:
        return {"pass_s": pass_s}

    out_bf = wb.traced_ops(run, bf, READS, WARM_READS, cascade)
    q = wq.make_input(run, repo_root)
    wq.warm_up(run, q)
    out_q: dict[str, list[float]] = {}
    q["leaves"].timed_pass(out_q)
    q["leaves"].recheck_prod()
    spans = run.spans[mark:]
    pairs = list(zip(spans, run.fold_trace(spans)))
    m = wb.layer_metrics(run, bf, out_bf, pairs)
    m.update(wq.layer_metrics(out_q, pairs))
    m["pass_s"] = pass_s
    m["session.start_s"] = session_s
    m["datagen.write_s"] = bf["datagen_s"]
    m["warmup_s"] = bf["warmup_s"] + q["warmup_s"]
    return m


def run_traced(run: Run, repo_root: str) -> dict:
    child_dir = run.path("plain")
    os.makedirs(child_dir)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), child_dir, str(run.seed)],
        check=True, timeout=CHILD_TIMEOUT_S, stdout=sys.stderr,
    )
    with open(os.path.join(child_dir, "plain.json")) as f:
        plain = json.load(f)
    run.attempted += plain["attempted"]
    run.failed += plain["failed"]
    run.failures += plain["failures"]

    m = session(run, repo_root, traced=True)
    m["tracing_overhead"] = m.pop("pass_s") / plain["pass_s"] - 1
    return m


def _plain_child(work_dir: str, seed: int) -> int:
    here = os.path.dirname(os.path.abspath(__file__))
    run = Run(seed=seed, seconds=0, trace=False, work_dir=work_dir,
              cores=len(os.sched_getaffinity(0)))
    try:
        out = session(run, os.path.dirname(here), traced=False)
    finally:
        run.stop_session(end_jvm=True)
    out.update(attempted=run.attempted, failed=run.failed, failures=run.failures)
    with open(os.path.join(work_dir, "plain.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(_plain_child(sys.argv[1], int(sys.argv[2])))
