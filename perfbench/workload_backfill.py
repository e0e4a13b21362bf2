"""`backfill` workload: the engine's write path and the reads it serves.

Input: ``datagen.transcripts``, 400 conversations (heavy-tailed, with a
hot conversation every 199th), written to parquet during set-up.  The
generator seed is derived from the run's seed and held to ≈32k turns
(see ``datagen_seed``).

Set-up (``setup_s``, the median of three): session start, then input
generation (write to parquet, read back).  Warm-up, untimed: one plain
cascade pass (raw→1m→1h→1d, each tier written to parquet and read
back), which warms the rollup operators the backfill runs and gives the
reference tier hashes.

Timed operations, one at a time, in counts that do not depend on how
fast they run:

- one ``plans.backfill.backfill`` into a fresh root at the production
  job's parallelism, then ``verify_lineage``;
- tier reads of that backfill's 1h tier, 6 per second of ``--seconds``
  (after 100 untimed ones):
  four point lookups by ``conv_id`` that decode every blob to one
  time-range scan with an aggregate.

``work_s`` is the wall of the backfill + verify plus that of the timed
reads.

Checks: every tier's ``count_and_hash`` equals the cascade pass's, the
tier's Σn_turns equals the gap-fillable raw turns, ``verify_lineage``
returns no problem, the XOR of each tier's lineage hashes equals the
cascade's tier hash, and every read returns the rows and turn counts the
cascade's 1h tier holds, with each blob decoding to n_turns points.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import time
from statistics import median

from harness import Run, quantile

N_CONVS = 400
TARGET_TURNS = 32_000  # seed 42's size at 400 conversations
N_BUCKETS = 4
PARALLELISM = 4  # jobs/cascade_backfill.py default
# read latency keeps falling over the first ≈400 reads of a session (JIT
# of the planning path); the timed reads start this far down the slope
WARM_READS = 100
# timed reads per second of --seconds: 72 in a 12 s run, ≈8 s on a 4-core
# host, the backfill the rest
READS_PER_S = 6
READS_MIN = 10
TIERS = ("1m", "1h", "1d")


def datagen_seed(seed: int) -> int:
    """The first generator seed derived from ``seed`` whose conversations
    hold TARGET_TURNS ± 3% turns.  Lengths are heavy-tailed, so plain
    seeds give 20k-54k turns at 400 conversations; holding the size keeps
    runs of different seeds comparable while the content still varies."""
    from ts_process_spark.datagen import conv_length

    for i in itertools.count():
        candidate = seed * 10_000 + i
        total = sum(conv_length(k, candidate) for k in range(N_CONVS))
        if abs(total - TARGET_TURNS) <= 0.03 * TARGET_TURNS:
            return candidate


def _gapfillable_turns(raw) -> int:
    """Turns the 1m tier must keep: those between a conversation's first
    and last turn with a timestamp (gap-fill interpolates inside that
    range and drops the rest).  Counted from raw, independently of the
    engine's gap-fill."""
    from pyspark.sql import functions as F

    bounds = raw.where(F.col("ts").isNotNull()).groupBy("conv_id").agg(
        F.min("turn_idx").alias("lo"), F.max("turn_idx").alias("hi")
    )
    return (
        raw.join(bounds, "conv_id")
        .where(F.col("turn_idx").between(F.col("lo"), F.col("hi")))
        .count()
    )


def _tier_summary(df) -> tuple:
    from pyspark.sql import functions as F

    from ts_process_spark.plans.backfill import HASH_COLS, count_and_hash

    n, h = count_and_hash(df, HASH_COLS)
    row = df.agg(F.sum("n_turns"), F.sum("n_gapfilled")).first()
    return n, h, int(row[0] or 0), int(row[1] or 0)


def cascade_pass(run: Run, raw, out_dir: str, tag: str) -> dict:
    """raw→1m→1h→1d, each tier written to parquet and read back as the
    next tier's input.  Returns {tier: (rows, hash, Σn_turns, Σn_gapfilled)}."""
    from ts_process_spark.operators.rollup import rollup_cascade, rollup_raw_to_1m

    spark = run.spark
    child = raw
    for tier in TIERS:
        path = os.path.join(out_dir, f"tier_{tier}")
        with run.span(f"{tag}/{tier}"):
            out = rollup_raw_to_1m(child) if tier == "1m" else rollup_cascade(child, tier)
            out.write.mode("overwrite").parquet(path)
        child = spark.read.parquet(path)
    return {tier: _tier_summary(spark.read.parquet(os.path.join(out_dir, f"tier_{tier}")))
            for tier in TIERS}


def _check_cascade(run: Run, got: dict, ref: dict, gapfillable: int, tag: str) -> None:
    for tier in TIERS:
        run.op(got[tier][:2] == ref[tier][:2], f"{tag} {tier}: count_and_hash differs")
        run.op(got[tier][2] == gapfillable,
               f"{tag} {tier}: Σn_turns {got[tier][2]} != {gapfillable} gap-fillable")


def backfill_op(run: Run, raw, root: str, ref: dict, tag: str) -> tuple[float, dict]:
    """One backfill + verify_lineage into a fresh root, checked."""
    from ts_process_spark.plans.backfill import TableSet, backfill, verify_lineage

    shutil.rmtree(root, ignore_errors=True)
    tables = TableSet(root)
    start = time.time()
    with run.span(f"{tag}/commit"):
        result = backfill(run.spark, raw, tables, n_buckets=N_BUCKETS,
                          parallelism=PARALLELISM)
    with run.span(f"{tag}/verify"):
        problems = verify_lineage(run.spark, tables)
    wall = time.time() - start
    lineage = tables.read_lineage()
    ok = not problems and result["committed"] == N_BUCKETS * len(TIERS)
    for tier in TIERS:
        xor = 0
        for rec in lineage:
            if rec["tier"] == tier:
                xor ^= rec["value_hash"]
        ok = ok and xor == ref[tier][1]
    run.op(ok, f"{tag}: backfill problems={problems} result={result}")
    return wall, {"result": result, "lineage": lineage}


class TierReads:
    """Point lookups and range scans of a 1h tier, checked against the
    cascade's 1h tier (same rows, another layout)."""

    def __init__(self, run: Run, cascade_1h: str) -> None:
        rows = run.spark.read.parquet(cascade_1h).select(
            "conv_id", "bucket_ts", "n_turns").toPandas()
        self.by_conv = rows.groupby("conv_id")["n_turns"].agg(["count", "sum"])
        self.rows = rows
        self.rng = random.Random(run.seed)
        self.convs = sorted(self.by_conv.index)
        self.lo, self.hi = rows["bucket_ts"].min(), rows["bucket_ts"].max()
        self.decode_s: list[float] = []
        self.tables: dict[str, object] = {}

    def table(self, run: Run, tier_dir: str):
        """One handle per tier, as a serving process keeps it: listing the
        directory and reading a footer for the schema on every read took
        half of a point lookup, and most of its run-to-run spread."""
        if tier_dir not in self.tables:
            self.tables[tier_dir] = run.spark.read.parquet(tier_dir)
        return self.tables[tier_dir]

    def point(self, run: Run, tier_dir: str) -> float:
        from pyspark.sql import functions as F

        from ts_process_spark.functions import codecs

        conv = self.rng.choice(self.convs)
        start = time.time()
        with run.span("read/point"):
            got = self.table(run, tier_dir).where(F.col("conv_id") == conv).select(
                "n_turns", "ts_blob", "val_blob").collect()
            t0 = time.time()
            decoded_ok = all(
                len(codecs.decode_dod(bytes(r["ts_blob"]))) == r["n_turns"]
                and len(codecs.decode_gorilla(bytes(r["val_blob"]))) == r["n_turns"]
                for r in got
            )
            self.decode_s.append(time.time() - t0)
        wall = time.time() - start
        want = self.by_conv.loc[conv]
        run.op(decoded_ok and len(got) == want["count"]
               and sum(r["n_turns"] for r in got) == want["sum"],
               f"point read {conv}")
        return wall

    def range(self, run: Run, tier_dir: str) -> float:
        import pandas as pd
        from pyspark.sql import functions as F

        span_h = int((self.hi - self.lo) / pd.Timedelta(hours=1))
        a = self.lo + pd.Timedelta(hours=self.rng.randrange(max(1, span_h - 6)))
        b = a + pd.Timedelta(hours=6)
        start = time.time()
        with run.span("read/range"):
            # literals are read in the session time zone, UTC like the tier
            got = self.table(run, tier_dir).where(
                (F.col("bucket_ts") >= F.lit(str(a)).cast("timestamp"))
                & (F.col("bucket_ts") < F.lit(str(b)).cast("timestamp"))
            ).agg(F.count(F.lit(1)), F.sum("n_turns")).first()
        wall = time.time() - start
        sel = self.rows[(self.rows["bucket_ts"] >= a) & (self.rows["bucket_ts"] < b)]
        run.op(got[0] == len(sel) and (got[1] or 0) == int(sel["n_turns"].sum()),
               f"range read {a}..{b}")
        return wall


def make_input(run: Run, gen_seed: int) -> dict:
    """One set-up's input: generate the conversations, write them to
    parquet and read them back."""
    from ts_process_spark.datagen import transcripts

    spark = run.spark
    t0 = time.time()
    raw_dir = run.path("raw")
    shutil.rmtree(raw_dir, ignore_errors=True)
    transcripts(spark, n_convs=N_CONVS, seed=gen_seed,
                partitions=2 * run.cores).write.parquet(raw_dir)
    raw = spark.read.parquet(raw_dir)
    return {"raw": raw, "raw_dir": raw_dir, "n_turns": raw.count(),
            "datagen_s": time.time() - t0}


def warm_up(run: Run, ctx: dict) -> None:
    """Gap-fillable count, the reference cascade pass and the read
    checker, in the session of the last set-up.  The pass warms the
    rollup operators the backfill runs and gives the reference hashes."""
    t0 = time.time()
    ctx["gapfillable"] = gapfillable = _gapfillable_turns(ctx["raw"])
    ctx["ref"] = ref = cascade_pass(run, ctx["raw"], run.path("cascade"), "warm")
    for tier in TIERS:
        run.op(ref[tier][2] == gapfillable,
               f"warm {tier}: Σn_turns {ref[tier][2]} != {gapfillable} gap-fillable")
    ctx["reads"] = TierReads(run, os.path.join(run.path("cascade"), "tier_1h"))
    ctx["warmup_s"] = time.time() - t0


def reads_for(seconds: float) -> int:
    """Timed reads in a run of ``seconds``: a count set by the argument
    alone, so a faster engine does the same reads, not more of them."""
    return max(READS_MIN, round(READS_PER_S * seconds))


def read_loop(run: Run, ctx: dict, tier_dir: str, n: int) -> list[float]:
    """``n`` reads of ``tier_dir``, four point lookups to one range scan."""
    return [ctx["reads"].range(run, tier_dir) if i % 5 == 4
            else ctx["reads"].point(run, tier_dir) for i in range(n)]


def timed_ops(run: Run, ctx: dict, n_reads: int, tag: str,
              warm_reads: int = WARM_READS) -> dict:
    """One backfill + verify into a fresh root, then ``warm_reads``
    untimed and ``n_reads`` timed reads of the 1h tier it wrote."""
    root = run.path(f"bf_{tag}")
    work, info = backfill_op(run, ctx["raw"], root, ctx["ref"], tag)
    tier_dir = os.path.join(root, "tier_1h")
    read_loop(run, ctx, tier_dir, warm_reads)
    run.spark._jvm.System.gc()  # start the timed reads from the same heap state
    reads = read_loop(run, ctx, tier_dir, n_reads)
    return {"work": work, "reads": reads, "last": dict(info, root=root)}


def run_untraced(run: Run) -> dict:
    gen_seed = datagen_seed(run.seed)
    setup_s, ctx = run.timed_setups(lambda: make_input(run, gen_seed))
    warm_up(run, ctx)
    out = timed_ops(run, ctx, reads_for(run.seconds), "bf")
    return {"setup_s": setup_s, "work_s": out["work"] + sum(out["reads"])}


def _dir_files_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def traced_cascade(run: Run, ctx: dict) -> dict:
    """One checked cascade pass, spans named ``cascade/<tier>``."""
    got = cascade_pass(run, ctx["raw"], run.path("cascade_traced"), "cascade")
    _check_cascade(run, got, ctx["ref"], ctx["gapfillable"], "traced cascade")
    return got


def traced_ops(run: Run, ctx: dict, reads: int, warm_reads: int, cascade: dict) -> dict:
    """The traced backfill and reads, with the layout they leave."""
    out = timed_ops(run, ctx, reads, "traced", warm_reads)
    out["cascade"] = cascade
    out["tier_files"] = {t: _dir_files_bytes(os.path.join(out["last"]["root"], f"tier_{t}"))
                         for t in TIERS}
    return out


def layer_metrics(run: Run, ctx: dict, traced: dict, pairs: list) -> dict:
    """Per-layer numbers from the folded spans of ``traced_ops``."""
    stats = {s.name: st for s, st in pairs}  # the names used here are unique
    by_name = {s.name: s for s, _ in pairs}
    m: dict[str, float] = {}
    pass_s = util_task = gc_s = 0.0
    for tier in TIERS:
        st, sp = stats[f"cascade/{tier}"], by_name[f"cascade/{tier}"]
        pass_s += sp.wall_s
        util_task += st.task_s
        gc_s += st.gc_s
        m.update({
            f"rollup.{tier}.wall_s": sp.wall_s, f"rollup.{tier}.task_s": st.task_s,
            f"rollup.{tier}.cpu_s": st.cpu_s,
            f"rollup.{tier}.tasks": st.tasks, f"rollup.{tier}.max_task_s": st.max_task_s,
            f"rollup.{tier}.shuffle_bytes": st.shuffle_write_bytes,
            f"rollup.{tier}.spill_bytes": st.spill_bytes,
            f"rollup.{tier}.rows_out": st.output_records,
            f"rollup.{tier}.bytes_written": st.output_bytes,
            f"rollup.{tier}.jobs": st.jobs,
        })
    # summed over the tiers: a single tier's span often sees no GC at all
    m["rollup.gc_s"] = gc_s
    m["rollup.util"] = util_task / (pass_s * run.cores)
    m["rollup.1h.sort_fallback_tasks"] = stats["cascade/1h"].sql_metric(
        "number of sort fallback tasks")
    m["codecs.py_bytes_sent"] = stats["cascade/1m"].sql_metric("data sent to Python workers")
    m["codecs.py_bytes_returned"] = stats["cascade/1m"].sql_metric(
        "data returned from Python workers")
    # the timed reads are the last ones; the warm-up reads before them
    # have spans too
    read_pairs = [(s, st) for s, st in pairs if s.name.startswith("read/")]
    read_pairs = read_pairs[-len(traced["reads"]):]
    n_points = sum(s.name == "read/point" for s, _ in read_pairs)
    m["codecs.decode_s"] = median(ctx["reads"].decode_s[-n_points:])
    m["gapfill.filled_turns"] = traced["cascade"]["1m"][3]
    m["cascade.pass_s"] = pass_s
    m["cascade.turns_per_s"] = ctx["n_turns"] / pass_s

    commit, verify = stats["traced/commit"], stats["traced/verify"]
    commit_s = by_name["traced/commit"].wall_s
    verify_s = by_name["traced/verify"].wall_s
    units = [r["committed_at"] - r["started_at"] for r in traced["last"]["lineage"]]
    raw_read = commit.sql_metric("size of files read", ctx["raw_dir"] + "]")
    m.update({
        "backfill.commit_s": commit_s, "backfill.verify_s": verify_s,
        "backfill.jobs": commit.jobs, "verify.jobs": verify.jobs,
        "backfill.task_s": commit.task_s,
        "backfill.util": commit.task_s / (commit_s * run.cores),
        "backfill.units": traced["last"]["result"]["committed"],
        "backfill.unit_s.p50": quantile(units, 0.5),
        "backfill.unit_s.p90": quantile(units, 0.9),
        "backfill.raw_read_bytes": raw_read,
        "backfill.scan_amplification": raw_read / _dir_files_bytes(ctx["raw_dir"])[1],
        "backfill.turns_per_s": ctx["n_turns"] / (commit_s + verify_s),
    })
    for tier in TIERS:
        m[f"tier.{tier}.files"], m[f"tier.{tier}.bytes"] = traced["tier_files"][tier]
    m["tier_read.point_s"] = median([s.wall_s for s, _ in read_pairs if s.name == "read/point"])
    m["tier_read.range_s"] = median([s.wall_s for s, _ in read_pairs if s.name == "read/range"])
    m["tier_read.files_read"] = median(
        [st.sql_metric("number of files read", "tier_1h") for _, st in read_pairs])
    m["tier_read.rows_scanned"] = median(
        [st.sql_metric("number of output rows", "tier_1h") for _, st in read_pairs])
    return m
