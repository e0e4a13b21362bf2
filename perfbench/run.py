"""Benchmark of the transcript tier engine.

    python3 perfbench/run.py --workload {backfill,queries} --seed N \\
        --seconds S --trace {0,1}

Runs one workload against the engine's public functions on
``local[<cores>]``, checks its outputs, and prints as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, from
a run that also records Spark's event log.  The command works from any
directory: it finds the engine next to its own directory, and keeps
every file it writes in a scratch directory there, removed at exit.
It exits 0 when every output check passed, 1 when one failed, and 2
when the engine's sources are not next to it.

See perfbench/README.md for the workloads, the metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_FILES = (
    "ts_process_spark/__init__.py",
    "__spark_entry__.py",
    "bench_extra.py",
    "tools/check_oracles.py",
)


def _isolate(work_dir: str) -> None:
    """Point temp files, Spark's local dirs and the JVM's tmpdir into the
    run's scratch dir, and put the engine on the path of the Python
    workers Spark starts (they do not inherit this process's sys.path)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def _metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"engine sources not found next to {HERE}: {missing}", file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    _isolate(work_dir)

    import harness
    import traced
    import workload_backfill
    import workload_queries

    run = harness.Run(
        seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work_dir=work_dir,
        cores=len(os.sched_getaffinity(0)),
    )
    try:
        if run.trace:
            measured = traced.run_traced(run, ROOT)
        elif args.workload == "backfill":
            measured = workload_backfill.run_untraced(run)
        else:
            measured = workload_queries.run_untraced(run, ROOT)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop_session(end_jvm=True)
        shutil.rmtree(work_dir, ignore_errors=True)

    metrics = {
        spec["name"]: {"value": float(measured[spec["name"]]), "unit": spec["unit"]}
        for spec in _metric_specs(run.trace)
    }
    for failure in run.failures:
        print(f"FAILED: {failure}", file=sys.stderr)
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
