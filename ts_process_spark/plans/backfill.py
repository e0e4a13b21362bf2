"""Checkpoint-resumable tier backfill with per-partition lineage.

Design (SURVEY §7.5; BASELINE.json "resumable from checkpoint with
per-partition lineage + metrics"):

- **Partition unit = conversation hash-bucket**
  ``bucket_id = pmod(xxhash64(conv_id), n_buckets)`` — each unit holds
  *whole* conversations, so gap-fill (which needs a conv's neighbor
  turns) is self-contained per unit: no cross-partition overlap reads,
  no day-boundary interpolation hazards.  This is the local emulation of
  Iceberg's ``bucket(N, conv_id)`` partition transform; time-range
  pruning inside a bucket comes from parquet row-group stats after
  ``sortWithinPartitions(conv_id, bucket_ts)``.
- **One write job per tier**: a tier's pending buckets are rolled up
  together and written with ``partitionBy("bucket_id")`` under dynamic
  partition overwrite (committed buckets untouched), after a
  ``repartition("bucket_id")`` that keeps one file per bucket.
- **Commit protocol**: per tier, data first, THEN one lineage record
  per pending bucket.  A crash between the two (or partway through the
  records) leaves partitions without lineage — the re-run redoes just
  those buckets, idempotently.  Lineage is the source of truth for
  completeness, never the data files.
- **Lineage row**: run_id, tier, bucket_id, rows_in, rows_out,
  value_hash (xor-fold of row xxhash64s — order-independent, cheap to
  verify), started/committed wall times.  rows_out and value_hash come
  from one grouped job over the written partitions, rows_in from raw
  (1m) or the previous tier's rows_out.  ``resume`` = the pending set
  minus the committed lineage keys.

On a real cluster this layer sits on Iceberg (snapshot ids instead of
directory overwrites); the jar is not in this sandbox, so the same
protocol is implemented over partitioned parquet directories — the
commit-ordering and resume logic is identical.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_process_spark.operators.rollup import rollup_cascade, rollup_raw_to_1m

TIER_ORDER = ["1m", "1h", "1d"]


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _hash_aggs(cols: list[str]) -> list:
    """(row count, value_hash): value_hash is the bit-xor fold of per-row
    xxhash64 over the checked columns — order-independent (blob columns
    excluded — codec correctness is tested separately, SURVEY §7.4.5)."""
    h = F.xxhash64(*cols)
    return [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(h), F.lit(0)).alias("x")]


def count_and_hash(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, value_hash) of a whole frame in ONE aggregation job."""
    row = df.agg(*_hash_aggs(cols)).first()
    return int(row["n"]), int(row["x"])


HASH_COLS = [
    "conv_id",
    "bucket_ts",
    "n_turns",
    "n_gapfilled",
    "sum_text_len",
    "peak_text_len",
    "first_turn_idx",
    "last_turn_idx",
    "first_ts",
    "last_ts",
    "text_hash",
]


@dataclass
class TableSet:
    """Directory layout for one lineage of tier tables."""

    root: str

    def tier_dir(self, tier: str) -> str:
        return os.path.join(self.root, f"tier_{tier}")

    def partition_dir(self, tier: str, bucket_id: int) -> str:
        return os.path.join(self.tier_dir(tier), f"bucket_id={bucket_id}")

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage.jsonl")

    def read_lineage(self) -> list[dict]:
        if not os.path.exists(self.lineage_path):
            return []
        with open(self.lineage_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self) -> set[tuple[str, int]]:
        return {(r["tier"], r["bucket_id"]) for r in self.read_lineage()}

    def append_lineage(self, rec: dict) -> None:
        # single-writer append; on Iceberg this is the snapshot commit
        with open(self.lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.read.parquet(self.tier_dir(tier))

    def read_buckets(
        self, spark: SparkSession, tier: str, buckets: list[int]
    ) -> DataFrame | None:
        """The tier's rows in ``buckets``; None when none of them has a
        partition directory (a partitioned write leaves none for a
        bucket without rows)."""
        present = [b for b in buckets if os.path.isdir(self.partition_dir(tier, b))]
        if not present:
            return None
        return self.read_tier(spark, tier).where(F.col("bucket_id").isin(present))


def bucket_hashes(
    spark: SparkSession, tables: TableSet, tier: str, buckets: list[int]
) -> dict[int, tuple[int, int]]:
    """{bucket_id: (row count, value_hash)} of a tier's ``buckets`` in ONE
    grouped job; a bucket with no rows is absent (read it as ``(0, 0)``)."""
    df = tables.read_buckets(spark, tier, buckets)
    if df is None:
        return {}
    rows = df.groupBy("bucket_id").agg(*_hash_aggs(HASH_COLS)).collect()
    return {r["bucket_id"]: (int(r["n"]), int(r["x"])) for r in rows}


def backfill(
    spark: SparkSession,
    raw: DataFrame,
    tables: TableSet,
    n_buckets: int = 8,
    fail_after: int | None = None,
    parallelism: int = 1,  # ignored (one job per tier); existing callers pass it
) -> dict:
    """Run (or resume) the raw→1m→1h→1d cascade, one write job per tier
    over the tier's pending buckets.

    ``fail_after`` exists for the resume tests: crash before the Nth
    lineage append of this run — after that tier's data write —
    simulating a mid-backfill crash.  Returns {"committed": k,
    "skipped": s}, plus "crashed": True on a simulated crash."""
    run_id = uuid.uuid4().hex[:12]
    os.makedirs(tables.root, exist_ok=True)
    done = {(r["tier"], r["bucket_id"]): r for r in tables.read_lineage()}
    counts = {"committed": 0, "skipped": 0}
    for i, tier in enumerate(TIER_ORDER):
        pending = [b for b in range(n_buckets) if (tier, b) not in done]
        counts["skipped"] += n_buckets - len(pending)
        if not pending:
            continue
        started = time.time()
        if tier == "1m":
            src = with_bucket(raw, n_buckets).where(F.col("bucket_id").isin(pending))
            rows_in = dict(src.groupBy("bucket_id").count().collect())
            out = rollup_raw_to_1m(src.drop("bucket_id"))
        else:
            prev = TIER_ORDER[i - 1]
            rows_in = {b: done[(prev, b)]["rows_out"] for b in pending}
            child = tables.read_buckets(spark, prev, pending)
            out = None if child is None else rollup_cascade(child, tier)
        if out is not None:  # None: no pending bucket has child rows
            (
                with_bucket(out, n_buckets)
                .repartition("bucket_id")  # one file per bucket
                .sortWithinPartitions("bucket_id", "conv_id", "bucket_ts")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket_id")
                .parquet(tables.tier_dir(tier))
            )
        written = bucket_hashes(spark, tables, tier, pending)
        for bucket_id in pending:
            if fail_after is not None and counts["committed"] + 1 >= fail_after:
                # simulate a crash AFTER the tier's data write, BEFORE this
                # lineage commit: the resume run must redo this unit
                counts["crashed"] = True
                return counts
            rows_out, vhash = written.get(bucket_id, (0, 0))
            rec = {
                "run_id": run_id,
                "tier": tier,
                "bucket_id": bucket_id,
                "rows_in": rows_in.get(bucket_id, 0),
                "rows_out": rows_out,
                "value_hash": vhash,
                "started_at": started,
                "committed_at": time.time(),
            }
            tables.append_lineage(rec)
            done[(tier, bucket_id)] = rec
            counts["committed"] += 1
    return counts


def verify_lineage(spark: SparkSession, tables: TableSet) -> list[str]:
    """Re-hash every committed partition against its lineage record —
    the post-backfill integrity sweep, one grouped job per tier.  A
    committed bucket with no rows left reads as ``(0, 0)``."""
    lineage = tables.read_lineage()
    got = {
        tier: bucket_hashes(
            spark, tables, tier, [r["bucket_id"] for r in lineage if r["tier"] == tier]
        )
        for tier in TIER_ORDER
    }
    problems = []
    for rec in lineage:
        n, vhash = got[rec["tier"]].get(rec["bucket_id"], (0, 0))
        if n != rec["rows_out"]:
            problems.append(f"{rec['tier']}/{rec['bucket_id']}: rowcount drift")
        elif vhash != rec["value_hash"]:
            problems.append(f"{rec['tier']}/{rec['bucket_id']}: value hash drift")
    return problems
