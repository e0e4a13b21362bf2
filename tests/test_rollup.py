"""Tier-cascade correctness vs the single-node pandas oracle.

Checks (SURVEY.md §5): exact tier-point match at every grain, per-turn
text equality under stable (conv_id, turn_idx) order, cascade
re-aggregation consistency, partition-count invariance."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle import gapfill_pdf, tier_pdf
from ts_process_spark.datagen import gen_conv_pdf, transcripts
from ts_process_spark.functions.codecs import decode_dod, decode_gorilla
from ts_process_spark.operators.gapfill import gapfill_ts
from ts_process_spark.operators.rollup import full_cascade, rollup_raw_to_1m

N_CONVS = 10
SEED = 7


@pytest.fixture(scope="module")
def raw_pdf() -> pd.DataFrame:
    return pd.concat(
        [gen_conv_pdf(k, seed=SEED, median_turns=12) for k in range(N_CONVS)],
        ignore_index=True,
    )


@pytest.fixture(scope="module")
def raw_df(spark, raw_pdf):
    return transcripts(spark, n_convs=N_CONVS, seed=SEED, median_turns=12).cache()


def test_generator_matches_oracle_frame(spark, raw_df, raw_pdf):
    """Distributed generator == pure-function pandas recipe, and the
    per-turn text equality invariant under (conv_id, turn_idx) order."""
    got = (
        raw_df.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "role", "text", "tool")
        .toPandas()
    )
    exp = raw_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)[
        ["conv_id", "turn_idx", "role", "text", "tool"]
    ]
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_gapfill_exact(spark, raw_df, raw_pdf):
    got = (
        gapfill_ts(raw_df)
        .select(
            "conv_id", "turn_idx", F.unix_micros("ts_filled").alias("us"), "gapfilled"
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = gapfill_pdf(raw_pdf).sort_values(["conv_id", "turn_idx"])
    assert got["us"].tolist() == [int(u) for u in exp["ts_filled_us"]]
    assert got["gapfilled"].tolist() == exp["gapfilled"].tolist()
    assert int(raw_pdf["ts"].isna().sum()) == int(got["gapfilled"].sum()) > 0


@pytest.mark.parametrize("tier,unit", [("1m", "minute"), ("1h", "hour"), ("1d", "day")])
def test_tiers_match_oracle(spark, raw_df, raw_pdf, tier, unit):
    """Every tier of the engine cascade == the direct raw→tier oracle,
    including decoded blob points (exact, bit-level)."""
    tiers = full_cascade(raw_df)
    got = (
        tiers[tier]
        .withColumn("bucket_us", F.unix_micros("bucket_ts"))
        .withColumn("first_us", F.unix_micros("first_ts"))
        .withColumn("last_us", F.unix_micros("last_ts"))
        .orderBy("conv_id", "bucket_ts")
        .toPandas()
    )
    exp = tier_pdf(gapfill_pdf(raw_pdf), unit).sort_values(
        ["conv_id", "bucket_us"]
    ).reset_index(drop=True)
    assert len(got) == len(exp)
    for col in [
        "conv_id",
        "bucket_us",
        "n_turns",
        "n_gapfilled",
        "sum_text_len",
        "peak_text_len",
        "first_turn_idx",
        "last_turn_idx",
        "first_us",
        "last_us",
    ]:
        assert got[col].tolist() == exp[col].tolist(), col
    np.testing.assert_allclose(got["mean_text_len"], exp["mean_text_len"], rtol=0)
    np.testing.assert_allclose(
        got["mean_gap_s"].fillna(-1), exp["mean_gap_s"].fillna(-1), rtol=0
    )
    for i in range(len(got)):
        assert decode_dod(bytes(got["ts_blob"][i])).tolist() == exp["ts_points"][i], i
        assert (
            decode_gorilla(bytes(got["val_blob"][i])).tolist() == exp["val_points"][i]
        ), i


def test_partition_invariance(spark):
    """Identical tier rows (hashes and blobs included) at 2 vs 16 input
    partitions — the local stand-in for executor-count invariance."""
    outs = []
    for parts in (2, 16):
        raw = transcripts(spark, n_convs=6, seed=11, partitions=parts)
        t1h = full_cascade(raw)["1h"]
        outs.append(
            t1h.select(
                "conv_id",
                "bucket_ts",
                "n_turns",
                "text_hash",
                F.md5(F.col("ts_blob")).alias("tsb"),
                F.md5(F.col("val_blob")).alias("vlb"),
            )
            .orderBy("conv_id", "bucket_ts")
            .toPandas()
        )
    pd.testing.assert_frame_equal(outs[0], outs[1])


def test_text_hash_is_order_stable(spark, raw_df):
    """text_hash at 1m == xxhash64 of the turn-ordered concatenation of
    per-turn text hashes, computed through an independent (non-grouped)
    Spark expression — and it is sensitive to any text change."""
    t1m = rollup_raw_to_1m(raw_df)
    got = {
        (r["conv_id"], r["bucket_ts"]): r["text_hash"]
        for r in t1m.select("conv_id", "bucket_ts", "text_hash").collect()
    }
    filled = gapfill_ts(
        raw_df.withColumn("th", F.xxhash64("text"))
    ).where(F.col("ts_filled").isNotNull())
    exp_rows = (
        filled.select(
            "conv_id",
            F.date_trunc("minute", "ts_filled").alias("bucket_ts"),
            "turn_idx",
            F.col("th").cast("string").alias("th"),
        )
        .orderBy("conv_id", "bucket_ts", "turn_idx")
        .toPandas()
    )
    sep = "\x1f"
    agg = exp_rows.groupby(["conv_id", "bucket_ts"], sort=False)["th"].agg(sep.join)
    joined = spark.createDataFrame(
        agg.reset_index().rename(columns={"th": "joined"})
    ).select("conv_id", "bucket_ts", F.xxhash64("joined").alias("h"))
    for r in joined.collect():
        assert got[(r["conv_id"], r["bucket_ts"])] == r["h"]
    # sensitivity: flipping one text changes that bucket's hash
    mutated = raw_df.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == raw_df.first()["conv_id"]) & (F.col("turn_idx") == 0),
            F.lit("MUTATED"),
        ).otherwise(F.col("text")),
    )
    got2 = {
        (r["conv_id"], r["bucket_ts"]): r["text_hash"]
        for r in rollup_raw_to_1m(mutated)
        .select("conv_id", "bucket_ts", "text_hash")
        .collect()
    }
    assert got != got2 and len(got) == len(got2)


def test_cascade_edge_convs(spark):
    """Degenerate conversations: all-null-ts (never resolvable → dropped
    entirely), single-turn (one-point blobs must round-trip), and a
    two-turn conv straddling a day boundary (tier buckets split/merge
    correctly)."""
    import datetime as dt

    from ts_process_spark.datagen import TRANSCRIPT_SCHEMA

    t0 = dt.datetime(2030, 1, 1, 23, 59, 30)
    rows = [
        # all ts null — gap-fill has no anchor; conv must vanish
        ("nullconv", 0, "user", "aaa", None, None),
        ("nullconv", 1, "assistant", "bbb", None, None),
        # single turn
        ("single", 0, "user", "hello", None, t0),
        # straddles midnight: 2 minute-buckets, 2 hour-buckets, 2 days
        ("straddle", 0, "user", "x" * 10, None, t0),
        ("straddle", 1, "assistant", "y" * 20, None,
         t0 + dt.timedelta(seconds=60)),
    ]
    raw = spark.createDataFrame(
        pd.DataFrame(rows, columns=[f.name for f in TRANSCRIPT_SCHEMA]),
        TRANSCRIPT_SCHEMA,
    )
    tiers = full_cascade(raw)
    t1m = tiers["1m"].toPandas().sort_values(["conv_id", "bucket_ts"])
    assert "nullconv" not in set(t1m.conv_id)
    single = t1m[t1m.conv_id == "single"]
    assert len(single) == 1 and single.n_turns.iloc[0] == 1
    # one-point blobs decode to exactly the one point
    ts = decode_dod(bytes(single.ts_blob.iloc[0]))
    vals = decode_gorilla(bytes(single.val_blob.iloc[0]))
    assert len(ts) == 1 and len(vals) == 1 and vals[0] == 5.0  # len("hello")
    strad = t1m[t1m.conv_id == "straddle"]
    assert len(strad) == 2 and list(strad.n_turns) == [1, 1]
    t1d = tiers["1d"].toPandas()
    sd = t1d[t1d.conv_id == "straddle"].sort_values("bucket_ts")
    assert len(sd) == 2  # two day buckets
    assert list(sd.n_turns) == [1, 1]
    assert sd.peak_text_len.tolist() == [10, 20]


def test_cascade_blob_cap_surfaces_drops(spark):
    """max_blob_bytes bounds the hot-conversation tier row: chunks kept
    in bucket order within budget, the drop count surfaced (never
    silent), and every non-blob aggregate identical to the lossless
    run."""
    from ts_process_spark.operators.rollup import rollup_cascade

    raw = transcripts(spark, n_convs=6, seed=9)
    t1m = rollup_raw_to_1m(raw)
    full = rollup_cascade(t1m, "1d").orderBy("conv_id", "bucket_ts").collect()
    capped = (
        rollup_cascade(t1m, "1d", max_blob_bytes=64)
        .orderBy("conv_id", "bucket_ts")
        .collect()
    )
    assert len(full) == len(capped)
    assert any(r["blob_chunks_dropped"] > 0 for r in capped)  # cap bites
    for a, b in zip(full, capped):
        for c in ("conv_id", "n_turns", "sum_text_len", "peak_text_len",
                  "text_hash", "first_ts", "last_ts"):
            assert a[c] == b[c], c
        assert len(b["ts_blob"]) <= len(a["ts_blob"])
        # capped blob decodes to a prefix of the lossless blob's points
        # (chunk order is bucket order in both)
        da = list(decode_dod(bytes(a["ts_blob"])))
        db = list(decode_dod(bytes(b["ts_blob"])))
        assert da[: len(db)] == db


def test_null_text_normalizes_at_operator(spark):
    """rollup_raw_to_1m must treat NULL text as '' at the OPERATOR, not
    rely on callers: counts/sums stay consistent, sum_text_len never
    goes NULL, and the blob carries 0.0 instead of NaN."""
    import datetime as dt

    import numpy as np

    from ts_process_spark.functions.codecs import decode_gorilla
    from ts_process_spark.operators.rollup import rollup_raw_to_1m

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        ("c1", 0, "user", "hello", None, t0),
        ("c1", 1, "assistant", None, None, t0 + dt.timedelta(seconds=10)),
        ("c1", 2, "user", "bye", None, t0 + dt.timedelta(seconds=20)),
    ]
    raw = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    out = rollup_raw_to_1m(raw).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_turns"] == 3
    assert r["sum_text_len"] == 8  # 5 + 0 + 3
    assert r["peak_text_len"] == 5
    assert r["mean_text_len"] == 8 / 3
    vals = decode_gorilla(bytes(r["val_blob"]))
    assert list(vals) == [5.0, 0.0, 3.0]
    assert not np.isnan(vals).any()


def test_blob_chunks_dropped_propagates_through_cascade(spark):
    """A capped tier's drop counter survives further cascading: the 1d
    row reports its own drops PLUS the summed 1h drops (the transitive
    no-silent-caps rule)."""
    import datetime as dt

    from ts_process_spark.operators.rollup import (
        rollup_cascade,
        rollup_raw_to_1m,
    )

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = []
    for m in range(120):  # two hours of minutes, one conv
        rows.append(("c1", m, "user", "x" * 50, None,
                     t0 + dt.timedelta(minutes=m)))
    raw = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t1m = rollup_raw_to_1m(raw)
    t1h = rollup_cascade(t1m, "1h", max_blob_bytes=200)  # forces 1h drops
    h = {r["bucket_ts"]: r for r in t1h.collect()}
    h_drops = sum(r["blob_chunks_dropped"] for r in h.values())
    assert h_drops > 0
    t1d = rollup_cascade(t1h, "1d", max_blob_bytes=10**9)  # no own drops
    d = t1d.collect()[0]
    assert d["blob_chunks_dropped"] == h_drops  # child drops propagated
    # uncapped cascade of a capped child still carries the counter
    t1d2 = rollup_cascade(t1h, "1d")
    assert t1d2.collect()[0]["blob_chunks_dropped"] == h_drops


def test_blob_chunks_dropped_counts_leaf_units(spark):
    """ADVICE r4: a 1d cap that drops ONE 1h child whose blob holds 60
    minute-chunks must report 60 leaf chunks lost, not 1 — the counter
    is leaf-(1m-chunk)-unit at every tier, and blob_n_chunks tracks the
    kept payload the same way."""
    import datetime as dt

    from ts_process_spark.operators.rollup import (
        rollup_cascade,
        rollup_raw_to_1m,
    )

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        ("c1", m, "user", "x" * 50, None, t0 + dt.timedelta(minutes=m))
        for m in range(180)  # three full hours, one conv
    ]
    raw = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    t1h = rollup_cascade(rollup_raw_to_1m(raw), "1h")  # lossless
    hrows = t1h.collect()
    assert all(r["blob_n_chunks"] == 60 for r in hrows)
    blob_len = (
        len(bytes(hrows[0]["ts_blob"])) + len(bytes(hrows[0]["val_blob"]))
    )
    # budget for exactly two of the three 1h children
    t1d = rollup_cascade(t1h, "1d", max_blob_bytes=2 * blob_len)
    d = t1d.collect()[0]
    assert d["blob_chunks_dropped"] == 60  # leaf units, not "1 child"
    assert d["blob_n_chunks"] == 120  # kept payload, leaf units


def test_concat_blobs_expr_matches_python_form(spark, raw_df):
    """r9: the cascade's container blobs are built by pure-JVM
    expression (_concat_blobs_expr); pin them byte-equal to the scalar
    codecs.concat_blobs reference for BOTH structural shapes — leaf
    children (1m→1h: header lens synthesized from the map-side ltb/lvb
    bytes) and container children (1h→1d: lens/body copied by
    byte-slicing, flattening exactly like the Python form) — plus the
    max_blob_bytes branch down to the empty-kept edge."""
    from ts_process_spark.functions.codecs import concat_blobs
    from ts_process_spark.operators.rollup import rollup_cascade

    t1m = rollup_raw_to_1m(raw_df)
    t1h = rollup_cascade(t1m, "1h")

    def expected(child_df, tier, **kw):
        # reference: python concat_blobs over the child blobs collected
        # in bucket order, grouped by the parent bucket
        trunc = {"1h": "hour", "1d": "day"}[tier]
        rows = (
            child_df.select(
                "conv_id",
                F.date_trunc(trunc, "bucket_ts").alias("pb"),
                "bucket_ts",
                "ts_blob",
                "val_blob",
            )
            .orderBy("conv_id", "bucket_ts")
            .collect()
        )
        groups: dict = {}
        for r in rows:
            groups.setdefault((r["conv_id"], r["pb"]), []).append(
                (bytes(r["ts_blob"]), bytes(r["val_blob"]))
            )
        cap = kw.get("max_blob_bytes")
        out = {}
        for k, blobs in groups.items():
            if cap is not None:
                kept, tot = [], 0
                for tb, vb in blobs:
                    tot += len(tb) + len(vb)
                    if tot <= cap:
                        kept.append((tb, vb))
                blobs = kept
            out[k] = (
                concat_blobs([b[0] for b in blobs]),
                concat_blobs([b[1] for b in blobs]),
            )
        return out

    for child, tier in ((t1m, "1h"), (t1h, "1d")):
        for kw in ({}, {"max_blob_bytes": 0}, {"max_blob_bytes": 900}):
            got = {
                (r["conv_id"], r["bucket_ts"]): (
                    bytes(r["ts_blob"]),
                    bytes(r["val_blob"]),
                )
                for r in rollup_cascade(child, tier, **kw).collect()
            }
            exp = expected(child, tier, **kw)
            assert set(got) == set(exp)
            bad = [k for k in got if got[k] != exp[k]]
            assert not bad, (tier, kw, bad[:3])


def test_le4_raises_out_of_range_without_ansi(spark):
    """_le4 fails loudly on a value outside [0, 2^31-1] even with ANSI
    off, where an int cast wraps silently: 2^31 cast to int used to
    encode as FFFFFFFF, the container sentinel."""
    import struct

    from ts_process_spark.operators.rollup import _le4

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        one = spark.range(1)
        for ok in (0, 7, 2**31 - 1):
            got = one.select(_le4(F.lit(ok))).first()[0]
            assert bytes(got) == struct.pack("<I", ok)
        for bad in (F.lit(2**31).cast("int"), F.lit(2**31), F.lit(-1)):
            with pytest.raises(Exception, match="_le4"):
                one.select(_le4(bad)).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
