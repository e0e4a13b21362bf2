"""Tiny-input self-test of the benchmark's own parts.

    python3 perfbench/selftest.py

First folds a hand-written event log (no Spark, well under a second),
then runs every output check of both workloads on tiny inputs (20
conversations, 4 buckets, the test tables at scale factor 0.001) in
one traced session, and feeds each check a wrong answer to see that it
fails.  Exits 1 on the first broken part.  It takes about a minute,
nearly all of it Spark start-up and first-run compilation.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expect(cond: bool, what: str) -> None:
    if not cond:
        print(f"SELFTEST FAILED: {what}", file=sys.stderr)
        sys.exit(1)


def check_fold(tmp: str) -> None:
    """Two spans, three jobs; job 2 reuses stage 1 of job 1 (skipped)."""
    from eventlog import Span, fold, parse

    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "Scan parquet", "simpleString": "FileScan [file:/t/raw]",
            "metrics": [{"name": "number of output rows", "accumulatorId": 7},
                        {"name": "number of files read", "accumulatorId": 8}],
            "children": []}

    def task(stage, run_ms, out_rows, acc_update):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 1000_000, "Finish Time": 1000_000 + run_ms,
                              "Accumulables": [{"ID": 7, "Update": acc_update}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                                 "Output Metrics": {"Records Written": out_rows,
                                                    "Bytes Written": 50}}}

    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_100,
         "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "0"}},
        task(0, 200, 5, 3), task(0, 300, 6, 4),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000_100,
         "Stage IDs": [1], "Properties": {}},
        task(1, 500, 0, 0),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000_200,
         "Stage IDs": [1, 2], "Properties": {}},
        task(2, 100, 1, 0),
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[8, 2]]},
    ]
    path = os.path.join(tmp, "log")
    with open(path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    a, b = fold(parse(path), [Span("a", 1000.0, 1001.0), Span("b", 2000.0, 2001.0)])
    expect((a.jobs, a.stages, a.tasks) == (1, 1, 2), f"span a jobs/stages/tasks {a}")
    expect(abs(a.task_s - 0.5) < 1e-9 and abs(a.cpu_s - 0.5) < 1e-9, f"span a times {a}")
    expect(a.max_task_s == 0.3 and a.output_records == 11, f"span a max/rows {a}")
    expect(a.sql_metric("number of output rows", "raw]") == 7, f"span a sql {dict(a.sql)}")
    expect(a.sql_metric("number of files read") == 2, f"planning-time metric {dict(a.sql)}")
    expect((b.jobs, b.stages, b.tasks) == (2, 2, 2), f"span b counts stage 1 once {b}")
    expect(b.shuffle_write_bytes == 200, f"span b shuffle {b}")


def check_backfill(run) -> None:
    import workload_backfill as wb
    from ts_process_spark.datagen import transcripts

    spark = run.spark
    base = run.failed
    raw_dir = run.path("raw")
    transcripts(spark, n_convs=20, seed=run.seed, partitions=4).write.parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    gapfillable = wb._gapfillable_turns(raw)
    mark = len(run.spans)
    ref = wb.cascade_pass(run, raw, run.path("cascade"), "cascade")
    wb._check_cascade(run, ref, ref, gapfillable, "cascade")
    expect(run.failed == base, f"cascade checks: {run.failures[base:]}")

    wrong = {t: (v[0], v[1] ^ 1) + v[2:] for t, v in ref.items()}
    wb._check_cascade(run, ref, wrong, gapfillable + 1, "tampered")
    expect(run.failed == base + 6, "cascade checks must flag a wrong hash and turn count")

    wb.backfill_op(run, raw, run.path("bf"), ref, "bf")
    expect(run.failed == base + 6, f"backfill check: {run.failures[base + 6:]}")
    wb.backfill_op(run, raw, run.path("bf_bad"), wrong, "bf_bad")
    expect(run.failed == base + 7, "backfill check must flag a lineage hash that differs")

    reads = wb.TierReads(run, os.path.join(run.path("cascade"), "tier_1h"))
    tier = os.path.join(run.path("bf"), "tier_1h")
    for _ in range(2):
        reads.point(run, tier)
        reads.range(run, tier)
    expect(run.failed == base + 7, f"read checks: {run.failures[base + 7:]}")
    reads.by_conv["sum"] += 1
    reads.rows["n_turns"] += 1
    reads.hi = reads.lo  # the next range starts at the first row
    reads.point(run, tier)
    reads.range(run, tier)
    expect(run.failed == base + 9, "read checks must flag wrong turn counts")

    spans = run.spans[mark:]
    stats = dict(zip((s.name for s in spans), run.fold_trace(spans)))
    one_m = stats["cascade/1m"]
    expect(one_m.jobs >= 1 and one_m.output_records == ref["1m"][0],
           f"1m span: jobs {one_m.jobs}, rows out {one_m.output_records} vs {ref['1m'][0]}")
    expect(one_m.sql_metric("data sent to Python workers") > 0, "1m span: no Python bytes")
    commit = stats["bf/commit"]
    expect(commit.sql_metric("size of files read", raw_dir + "]") > 0, "backfill: no raw scan")
    expect(stats["bf/verify"].jobs >= 12, f"verify jobs {stats['bf/verify'].jobs}")


def check_queries(run) -> None:
    import workload_queries as wq

    tables_dir = os.path.join(HERE, "data", "sf0.001")
    leaves = wq.Leaves(run, tables_dir, ROOT)
    before = run.failed
    leaves.check_pass()
    expect(run.failed == before, f"oracle checks: {run.failures[before:]}")
    leaves.recheck_prod()
    expect(run.failed == before, f"prod recheck: {run.failures[before:]}")
    for name in wq.PROD_LEAVES:
        leaves.first[name] = leaves.first[name][1:]
    leaves.recheck_prod()
    expect(run.failed == before + len(wq.PROD_LEAVES), "prod recheck must flag a change")

    import duckdb

    con = duckdb.connect()
    path = os.path.join(tables_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    sdf = leaves.fns["doc_token_stats"]()
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["doc_token_stats"]
    rows = sdf.collect()
    expect(not wq.oracle_problems(leaves.checker, sdf, rows, con.sql(sql)), "oracle pair")
    expect(wq.oracle_problems(leaves.checker, sdf, rows[1:], con.sql(sql)) != [],
           "oracle comparator must flag a missing row")
    con.close()


def main() -> int:
    from run import _isolate

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        check_fold(work)
        print("event-log fold: ok", flush=True)
        import harness

        run = harness.Run(seed=3, seconds=0, trace=True,
                          work_dir=work, cores=len(os.sched_getaffinity(0)))
        run.start_session(traced=True)
        try:
            check_queries(run)
            print("queries checks: ok", flush=True)
            check_backfill(run)
            print("backfill checks and traced fold: ok", flush=True)
        finally:
            run.stop_session(end_jvm=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
