"""Resume-protocol tests: kill the cascade mid-backfill, re-run, assert
identical final state and no double-processing (SURVEY §5.4)."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ts_process_spark.datagen import transcripts
from ts_process_spark.operators.rollup import full_cascade
from ts_process_spark.plans.backfill import TableSet, backfill, verify_lineage

N_CONVS = 8
N_BUCKETS = 4


@pytest.fixture(scope="module")
def raw(spark):
    return transcripts(spark, n_convs=N_CONVS, seed=3, median_turns=10).cache()


def _tier_frame(df):
    return (
        df.select(
            "conv_id", "bucket_ts", "n_turns", "sum_text_len", "text_hash",
            F.md5("ts_blob").alias("tsb"), F.md5("val_blob").alias("vlb"),
        )
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )


def test_backfill_crash_and_resume(spark, raw, tmp_path):
    tables = TableSet(str(tmp_path / "t"))
    # crash after 5 units, after the 5th data write but before its lineage
    r1 = backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=5)
    assert r1.get("crashed")
    assert r1["committed"] == 4
    assert len(tables.committed()) == 4

    # resume: must redo the uncommitted 5th unit, skip the 4 committed
    r2 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r2["skipped"] == 4
    assert r2["committed"] == 3 * N_BUCKETS - 4
    assert len(tables.committed()) == 3 * N_BUCKETS

    # final tiers == direct full cascade (blobs and hashes included)
    direct = full_cascade(raw)
    for tier in ("1m", "1h", "1d"):
        got = _tier_frame(tables.read_tier(spark, tier))
        exp = _tier_frame(direct[tier])
        pd.testing.assert_frame_equal(got, exp)

    # idempotence: a third run does nothing and lineage doesn't grow
    n_lineage = len(tables.read_lineage())
    r3 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r3["committed"] == 0 and r3["skipped"] == 3 * N_BUCKETS
    assert len(tables.read_lineage()) == n_lineage

    # integrity sweep
    assert verify_lineage(spark, tables) == []


def test_lineage_detects_tamper(spark, raw, tmp_path):
    tables = TableSet(str(tmp_path / "t2"))
    backfill(spark, raw, tables, n_buckets=2)
    # overwrite one committed partition with wrong content
    victim = tables.partition_dir("1d", 0)
    tables.read_tier(spark, "1d").limit(1).write.mode("overwrite").parquet(victim)
    problems = verify_lineage(spark, tables)
    assert any("1d/0" in p for p in problems)


def test_lineage_reports_deleted_partition(spark, raw, tmp_path):
    """A committed partition whose directory is gone is drift, not a
    crash of the sweep."""
    tables = TableSet(str(tmp_path / "t3"))
    backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    shutil.rmtree(tables.partition_dir("1h", 1))
    assert verify_lineage(spark, tables) == ["1h/1: rowcount drift"]


def test_backfill_crash_mid_tier_lineage(spark, raw, tmp_path):
    """A crash partway through one tier's lineage appends: the resume
    redoes only that tier's uncommitted buckets and the coarser tiers."""
    tables = TableSet(str(tmp_path / "t4"))
    # 1m commits all 4 buckets, 1h commits 2, the crash lands on the 7th
    r1 = backfill(spark, raw, tables, n_buckets=N_BUCKETS, fail_after=7)
    assert r1.get("crashed") and r1["committed"] == 6
    assert len(tables.committed()) == 6

    r2 = backfill(spark, raw, tables, n_buckets=N_BUCKETS)
    assert r2["skipped"] == 6 and r2["committed"] == 3 * N_BUCKETS - 6
    assert len(tables.read_lineage()) == 3 * N_BUCKETS

    direct = full_cascade(raw)
    for tier in ("1m", "1h", "1d"):
        got = _tier_frame(tables.read_tier(spark, tier))
        exp = _tier_frame(direct[tier])
        pd.testing.assert_frame_equal(got, exp)
    assert verify_lineage(spark, tables) == []


def test_backfill_empty_input(spark, raw, tmp_path):
    """No input rows: every unit commits as (0, 0, 0) and verifies clean,
    though a partitioned write leaves no bucket directory to read back."""
    tables = TableSet(str(tmp_path / "t5"))
    r = backfill(spark, raw.limit(0), tables, n_buckets=2)
    assert r == {"committed": 6, "skipped": 0}
    assert {(x["rows_in"], x["rows_out"], x["value_hash"])
            for x in tables.read_lineage()} == {(0, 0, 0)}
    assert verify_lineage(spark, tables) == []
